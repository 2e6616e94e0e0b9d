package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import VectorOps.cosine

/** Persistent IVF-flat ANN index — the build-once / serve-many model of
  * the reference's Qdrant collection (init_qdrant.py:38-58). graft's
  * in-plan IVF path (q_v6) re-derives the centroid assignment inside
  * every query, which is fine for one-shot analytics but wrong for the
  * repeated-query serving workload the reference actually runs: there
  * the index is built once and amortized over every later search.
  *
  * On-disk layout (plain parquet — readable by any engine, DuckDB
  * included, which is how the oracle checks it):
  * {{{
  *   <path>/centroids/           (cent_id BIGINT, cvec ARRAY<double-ish>)
  *   <path>/cells/cent_id=<c>/   corpus rows partitioned by cell id
  *   <path>/_INDEX_READY         marker: "v1,k=<cells>,count=<corpus rows>,bid=<id>"
  *   -- bid: a fresh id per BUILD, carried unchanged by appends and
  *   --   rebalances — with cv it names the centroid geometry serving
  *   --   caches key on (an append never moves centroids)
  *   -- after a rebalance (r11): the marker gains `cv=<n>` and the
  *   --   centroid table lives at <path>/centroids.v<n>/ — each
  *   --   rebalance publishes a fresh versioned directory and advances
  *   --   the marker (rename-free swap; the replaced version is kept
  *   --   one rebalance cycle for in-flight lock-free searches)
  * }}}
  *
  * Scale shape: the build is one narrow argmax assignment pass plus one
  * partitioned write (rows move once, keyed by cent_id); a search reads
  * the tiny centroid table, picks the nprobe nearest cells, and scans
  * ONLY those cell directories — static partition pruning, never a
  * corpus scan. Driver-side state is nprobe ints (the probe list).
  * Build is DDL-if-absent (SURVEY §2 K3): concurrent/static-data reruns
  * no-op on a matching marker; a count or layout change rebuilds; the
  * publish is build-to-temp + atomic rename, so readers never see a
  * half-written index.
  */
object IvfIndex {
  private val Marker = "_INDEX_READY"
  /** Below this corpus size searches skip cell pruning and scan every
    * cell — exact results for flat/int8 layouts, all-cells ADC for PQ
    * (the reference's full_scan_threshold, init_qdrant.py:47). */
  val FullScanThreshold = 100L
  private val LayoutVersion = "v1"
  /** Layout stamp for int8-quantized cell payloads (reference stores
    * scalar-int8 vectors always_ram, init_qdrant.py:51-57): cells carry
    * (q ARRAY<TINYINT>, scale DOUBLE) instead of the raw float array —
    * ~4× smaller at rest, which at 100 TB is the difference between
    * cells fitting in page cache or not (VERDICT r5 missing #2). The
    * quantization math is exactly q_v7's oracled form: scale =
    * max|v|/127 (1.0 for the zero vector), q = round(v/scale) via
    * Spark's HALF_UP `round` so the DuckDB oracle reproduces it
    * bit-for-bit; searches dequantize in-plan (q·scale) and score the
    * dequantized vector. */
  private val QuantLayoutVersion = "v2q"
  /** Layout stamp for PQ-coded cells — the Jégou et al. IVFADC
    * composition (VERDICT r6 next #8), the layout production ANN stores
    * actually run at 100 TB: the coarse quantizer routes a vector to its
    * cell, and the cell stores only the PRODUCT-QUANTIZED RESIDUAL
    * (vector − centroid) as S one-byte codes — S bytes per vector at
    * rest (vs 64 int8 bytes / 256+ raw bytes at Dim=64). Search
    * reconstructs nothing: scoring is ADC — per-subspace table lookups
    * against driver-computed tables, exactly q_v10's oracled fold
    * orders, extended with the per-cell centroid terms
    * (<q,c>, |c|², <c_s, cb_s[j]>). Codebook entries are the residuals
    * of the first [[PqK]] corpus vectors, sliced per subspace — the
    * same deterministic donor rule q_v10 pins, so the whole
    * build+search is SQL-mirrorable and q_v11 is hash-oracled. */
  private val PqLayoutVersion = "v3pq"
  /** Layout stamp for TRAINED-codebook PQ cells (VERDICT r7 next #1):
    * same on-disk shape as [[PqLayoutVersion]], but the codebooks are
    * per-subspace k-means over the residuals — donor slices as the
    * deterministic init, Lloyd-refined under the L2 metric the encoder
    * minimizes ([[VectorOps.kmeansCentroidsL2Df]]). This is what the
    * reference's store quantizes (init_qdrant.py:41-57 — trained
    * quantization over real-manifold vectors), and what decouples the
    * serving shortlist from corpus size (q_v12c): donor codebooks
    * measured ADC-only recall 0.05–0.13, forcing an L ∝ n exact rerank.
    * A distinct layout version + ti= field: the codebook RULE is build
    * semantics, so a donor-built index must never serve as a trained
    * one (the same stamp discipline as NswIndex's ep= field). Since r12
    * the trained path is hash-oracled end-to-end — the corpus, the
    * per-subspace Lloyd chain and the ADC serve unroll into DuckDB CTEs
    * (VectorQueries.trainedCbCtesSql) — with IvfPqTrainedSpec's
    * codebook bit-parity kept as the in-JVM cross-check; q_v11 keeps
    * ti=0 so the donor ADC fold semantics stay separately pinned. */
  private val TrainedPqLayoutVersion = "v4pqt"
  /** PQ geometry: S subspaces × K codebook entries (codes fit a byte). */
  private val PqS = 8
  private val PqK = 16
  /** Default Lloyd iterations for trained codebooks: k-means on clustered
    * data converges fast; 3 iterations capture most of the gain and keep
    * the build 8·3 bounded aggregation jobs. */
  val PqTrainItersDefault = 3
  /** Training-sample cap: per-subspace k-means fits 16 centroids — a
    * bounded uniform sample is statistically identical to the full
    * corpus for that, and at 100 TB training on every row would make
    * codebook fitting the build bottleneck. Deterministic stride sample
    * by vec_id keeps the build reproducible. */
  private val PqTrainSampleMax = 65536L

  /** Per-index-path JVM lock: serializes this process's build/append
    * mutations so the marker read-modify-write can't interleave
    * (ADVICE r5, medium). Cross-JVM, the contract is single-writer per
    * path — the reference's collection has the same contract (one
    * ingest DAG owns the Qdrant collection; searches are lock-free). */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(path: String): Object =
    pathLocks.computeIfAbsent(path, _ => new Object)

  private def readMarker(fs: FileSystem, marker: Path): String = {
    val in = fs.open(marker)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def markerField(stamp: String, key: String): Long =
    markerFieldOpt(stamp, key).getOrElse(throw new IllegalStateException(
      s"IvfIndex: no $key in marker '$stamp'"))

  private def markerFieldOpt(stamp: String, key: String): Option[Long] =
    markerText(stamp, key).map(_.toLong)

  private def markerText(stamp: String, key: String): Option[String] =
    stamp.split(",").collectFirst {
      case kv if kv.startsWith(key + "=") => kv.substring(key.length + 1)
    }

  /** The marker minus its build id: what DDL-if-absent compares. */
  private def stampPart(marker: String): String =
    marker.split(",").filterNot(_.startsWith("bid=")).mkString(",")

  private def withBid(stamp: String, bid: String): String = s"$stamp,bid=$bid"

  private def newBid(): String = java.util.UUID.randomUUID().toString

  /** Centroid-table directory under the stamp's `cv` version (ADVICE
    * r10 #1): builds publish to plain `centroids/` (cv absent = v0);
    * each [[rebalance]] publishes a FRESH `centroids.v&lt;n&gt;/` and then
    * advances the marker — a rename-free swap with no
    * delete-before-rename window, so a lock-free concurrent search
    * (explicitly allowed by the single-writer contract) can never hit
    * FileNotFound on the centroid table: whichever stamp it read, that
    * version's directory exists (the immediately-replaced version is
    * retained one full rebalance cycle before garbage collection). */
  private[graft] def centroidsDirOf(path: String, stamp: String): String =
    markerFieldOpt(stamp, "cv").filter(_ > 0)
      .map(v => s"$path/centroids.v$v").getOrElse(s"$path/centroids")

  /** Nearest-centroid assignment of `e` (vec_id, label, embedding)
    * against a centroid table (cent_id, cvec): the k×dim centroid set
    * collapses to a one-row array (aggregate → broadcast), then a
    * per-row struct-ordering argmax — one narrow projection, ties to
    * the smallest cent_id, zero extra exchanges. */
  def assignCells(e: DataFrame, cents: DataFrame): DataFrame = {
    // norms staged once per side (r19, guide §4): cosine(v, c) re-ran
    // both norm2 folds per (row, centroid) pair inside the interpreted
    // HOF argmax — 3 dot folds per pair. The staged cn2/__vn2 fold the
    // same doubles in the same graft_dotp order, so every cosine (and
    // thus every assignment and tie) is bit-identical; the whole
    // q_v6/q_v11/q_v12 hash-oracle surface rides on this projection.
    val centsArr = cents.agg(
      collect_list(struct(col("cent_id"), col("cvec"),
        VectorOps.norm2(col("cvec")).as("cn2"))).as("cs"))
    val best = array_max(transform(col("cs"), c =>
      struct(
        (VectorOps.dot(col("embedding"), c.getField("cvec")) /
          (sqrt(col("__vn2")) * sqrt(c.getField("cn2")))).as("sim"),
        (-c.getField("cent_id")).as("nid"))))
    e.withColumn("__vn2", VectorOps.norm2(col("embedding")))
      .crossJoin(broadcast(centsArr))
      .withColumn("cent_id", -best.getField("nid"))
      .select(col("vec_id"), col("label"), col("embedding"), col("cent_id"))
  }

  /** int8 scalar quantization of assigned cells: the raw `embedding`
    * column becomes (q ARRAY<TINYINT>, scale DOUBLE). Runs as ONE fused
    * primitive pass per row ([[graft.functions.Quant8]], r19 —
    * bit-identical to the former staged-HOF form per Quant8Spec, minus
    * its three interpreted array passes and the BigDecimal-stringifying
    * double `round`) ON TOP of the assignment projection — rows still
    * move exactly once, keyed by cent_id. */
  private[graft] def quantizeCells(assigned: DataFrame): DataFrame = {
    val emb = assigned.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, _) => col("embedding")
      case _ => transform(col("embedding"), v => v.cast("double"))
    }
    assigned
      .withColumn("__qz", call_function("graft_quant8", emb))
      .select(col("vec_id"), col("label"),
        col("__qz").getField("q").as("q"),
        col("__qz").getField("scale").as("scale"),
        col("cent_id"))
  }

  /** Build the index at `path` unless a current one is already there
    * (marker matches layout version + corpus row count).
    * `quantize=true` stores int8 cell payloads ([[QuantLayoutVersion]]);
    * searches dequant-rescore transparently based on the marker. */
  /** Writer-task count for the partitionBy(cent_id) cells write, sized
    * to the corpus instead of inherited from the scan/default
    * parallelism: a dynamic-partition write runs one file PER writer
    * task PER cell it holds, so a core-count task wave over a small
    * corpus emits up to tasks×k tiny files and pays the commit protocol
    * for each (the sf0.1 builds wrote 2000 rows through 32 tasks).
    * Hash-clustering by cent_id first keeps one file per cell per
    * covering task; ~256k rows (tens of MB) per task keeps production
    * corpora at full parallelism. */
  private def cellWriteParts(e: DataFrame, n: Long): Int =
    math.max(1, math.min(
      e.sparkSession.sparkContext.defaultParallelism,
      (n / 262144L).toInt))

  def buildIfAbsent(e: DataFrame, cents: DataFrame, path: String,
      quantize: Boolean = false): Unit =
    lockFor(path).synchronized {
      val spark = e.sparkSession
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val root = new Path(path)
      val marker = new Path(root, Marker)
      val layout = if (quantize) QuantLayoutVersion else LayoutVersion
      // k is part of the stamp (ADVICE r6): a quantizer-sizing change
      // (e.g. ivfK(n) growing past a previously-built constant k) must
      // invalidate the persisted cell geometry, or searches probe stale
      // cells while the oracle computes the new ones.
      val n = e.count()
      val stamp = s"$layout,k=${cents.count()},count=$n"
      if (fs.exists(marker) && stampPart(readMarker(fs, marker)) == stamp) return
      // unique tmp per attempt (ADVICE r5): a fixed ".build" path lets two
      // concurrent first builds interleave delete/write/rename and corrupt
      // or lose the published index; a UUID suffix keeps attempts disjoint.
      val tmp = new Path(
        path + ".build-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        cents.coalesce(1).write.mode("overwrite")
          .parquet(new Path(tmp, "centroids").toString)
        val assigned = assignCells(e, cents)
        val cells = if (quantize) quantizeCells(assigned) else assigned
        cells.repartition(cellWriteParts(e, n), col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id")
          .parquet(new Path(tmp, "cells").toString)
        val out = fs.create(new Path(tmp, Marker), true)
        try out.write(withBid(stamp, newBid()).getBytes("UTF-8")) finally out.close()
        // re-check before publish: another writer may have published the
        // same stamp while we were building — keep theirs, drop ours.
        if (fs.exists(marker) && stampPart(readMarker(fs, marker)) == stamp) return
        fs.delete(root, true)
        if (!fs.rename(tmp, root))
          throw new IllegalStateException(s"IvfIndex: rename $tmp -> $root failed")
      } finally fs.delete(tmp, true) // no-op after a successful rename
    }

  /** Build the IVF+PQ index at `path` unless a current one is there
    * (marker: layout + k + corpus count). Layout:
    * {{{
    *   <path>/centroids/           (cent_id, cvec)           — as v1
    *   <path>/codebooks/           (s, j, remb ARRAY<DOUBLE>) — S×K rows
    *   <path>/cells/cent_id=<c>/   (vec_id, label, code ARRAY<TINYINT>)
    *   <path>/_INDEX_READY         "v4pqt,k=…,count=…,pqs=8,pqk=16,ti=3"
    *                               (ti=0 → "v3pq,…" donor layout)
    * }}}
    * The build is the v1 assignment pass plus a narrow residual-encode
    * projection (argmin over K per subspace, ties to the smallest j) —
    * rows still move exactly once, keyed by cent_id. Driver state is
    * codebook-sized only (PqS×PqK×d doubles, the same class as the
    * centroid cache).
    *
    * `trainIters` selects the codebook rule. The default trains each
    * subspace's K entries by L2 k-means over the residual slices
    * ([[VectorOps.kmeansCentroidsL2Df]]: broadcast-argmin assignment,
    * decimal-exact mean update, nothing k-sized on the driver), with the
    * first-[[PqK]] donor slices as the deterministic init and a stride
    * sample capped at [[PqTrainSampleMax]] rows as the training set —
    * the production rule (VERDICT r7 next #1: donor codebooks floor
    * ADC-only recall at 0.05–0.13 and force an L ∝ n rerank).
    * `trainIters = 0` keeps the raw donor rule, which is what q_v11's
    * DuckDB oracle mirrors in SQL — that family pins the ADC fold
    * semantics; the q_v12 family measures the trained rule. */
  def buildPqIfAbsent(e: DataFrame, cents: DataFrame, path: String,
      trainIters: Int = PqTrainItersDefault): Unit =
    lockFor(path).synchronized {
      val spark = e.sparkSession
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val root = new Path(path)
      val marker = new Path(root, Marker)
      val n = e.count()
      val stamp =
        if (trainIters <= 0)
          s"$PqLayoutVersion,k=${cents.count()},count=$n,pqs=$PqS,pqk=$PqK"
        else
          s"$TrainedPqLayoutVersion,k=${cents.count()},count=$n," +
            s"pqs=$PqS,pqk=$PqK,ti=$trainIters"
      if (fs.exists(marker) && stampPart(readMarker(fs, marker)) == stamp) return
      val tmp = new Path(
        path + ".build-" + java.util.UUID.randomUUID().toString.take(8))
      try {
        cents.coalesce(1).write.mode("overwrite")
          .parquet(new Path(tmp, "centroids").toString)
        // residual per row: v − centroid of its assigned cell
        val assigned = assignWithResidual(e, cents)
        val dim = e.select(size(col("embedding"))).first().getInt(0)
        require(dim % PqS == 0, s"IvfIndex PQ: dim $dim not divisible by $PqS")
        val d = dim / PqS
        // codebook init: donor j's residual, sliced per subspace (the
        // q_v10 donor rule — deterministic, SQL-mirrorable)
        val donors = assigned.filter(col("vec_id") < PqK).orderBy("vec_id")
          .select(col("res")).collect()
          .map(_.getSeq[Double](0).toArray)
        require(donors.length == PqK,
          s"IvfIndex PQ: need $PqK donor vectors, corpus has ${donors.length}")
        val cb0 = Array.tabulate(PqS, PqK, d)((s0, j, i) => donors(j)(s0 * d + i))
        import spark.implicits._
        val cb =
          if (trainIters <= 0) cb0
          else {
            // deterministic bounded training sample; localCheckpoint the
            // residual projection once so the refinement doesn't re-run
            // the assignment lineage. All PqS subspaces train in ONE
            // grouped Lloyd chain (r9): the per-subspace form ran
            // 8 sequential chains of tiny jobs whose fixed overhead
            // dominated the build (43 s of the sf0.01 sweep);
            // kmeansCentroidsL2GroupedDf is bit-identical per subspace.
            val stride = math.max(1L, n / PqTrainSampleMax)
            // partitions sized to the Lloyd WORK, bounded above by the
            // core count (r19; refines the r18 rows-only rule): each
            // sample row costs PqS subspace rows × PqK argmin l2dists of
            // dim d per iteration, so sizing by rows alone put the whole
            // 2.05M-mult assignment on ONE task at sf0.1 (event log:
            // three 0.6–1.0 s single-task jobs, the cold q_v12 build's
            // largest remaining term). ~131k mults/task keeps tasks in
            // the tens-of-ms class; the decimal-exact update is
            // order-independent, so the result is partitioning-invariant
            // (IvfPqTrainedSpec's partitioning-independence test).
            val sampleRows = math.min(n, PqTrainSampleMax)
            val sampleParts = math.max(1L, math.min(
              e.sparkSession.sparkContext.defaultParallelism.toLong,
              sampleRows * PqS * PqK * d / 131072L)).toInt
            val sample = (if (stride == 1L) assigned
              else assigned.filter(pmod(col("vec_id"), lit(stride)) === 0))
              .select(col("res")).repartition(sampleParts).localCheckpoint()
            val subRows = sample.select(posexplode(array((0 until PqS).map(s0 =>
              slice(col("res"), s0 * d + 1, d)): _*)).as(Seq("s", "sub")))
            // literal-centroid Lloyd: PQ codebooks are constant-sized
            // (PqS×PqK×d ≈ 8 KB), so the refinement collects only the
            // k-sized update per iteration — one action per iteration
            // instead of the DF form's broadcast/join/checkpoint cycle
            // (bit-identical per IvfPqTrainedSpec's literal==DF parity test)
            VectorOps.kmeansCentroidsL2GroupedLit(
              subRows, "sub", cb0, trainIters, d)
          }
        cb.zipWithIndex.flatMap { case (entries, s0) =>
          entries.zipWithIndex.map { case (v, j) => (s0, j, v.toSeq) }
        }.toSeq.toDF("s", "j", "remb")
          .coalesce(1).write.mode("overwrite")
          .parquet(new Path(tmp, "codebooks").toString)
        pqEncoded(assigned, cb, d)
          .repartition(cellWriteParts(e, n), col("cent_id"))
          .write.mode("overwrite").partitionBy("cent_id")
          .parquet(new Path(tmp, "cells").toString)
        val out = fs.create(new Path(tmp, Marker), true)
        try out.write(withBid(stamp, newBid()).getBytes("UTF-8")) finally out.close()
        if (fs.exists(marker) && stampPart(readMarker(fs, marker)) == stamp) return
        fs.delete(root, true)
        if (!fs.rename(tmp, root))
          throw new IllegalStateException(s"IvfIndex: rename $tmp -> $root failed")
      } finally fs.delete(tmp, true)
    }

  /** Residuals + PQ codes for assigned rows: argmin_j ||res_s − cb[s][j]||²
    * per subspace (ties → smallest j), as narrow codegen'd expressions —
    * shared by the initial build and [[append]] so appended rows encode
    * against the SAME codebook the index serves with. Expects `assigned`
    * to carry a `res` column (vector − its cell's centroid). */
  private def pqEncoded(assigned: DataFrame,
      cb: Array[Array[Array[Double]]], d: Int): DataFrame = {
    // r7: the fused graft_pq_encode expression — ONE codegen'd
    // triple loop per row instead of S×K×D literal sub-expressions
    // (the q_v10 scaladoc's named production path; PqEncodeSpec pins
    // bit-parity with the literal argmin chain)
    val flat = cb.flatMap(_.flatMap(_.toSeq)).toSeq
    assigned
      .withColumn("code", call_function("graft_pq_encode",
        col("res"), typedLit(flat), lit(PqS), lit(PqK), lit(d)))
      .select(col("vec_id"), col("label"), col("code"), col("cent_id"))
  }

  /** Assignment + residual column against a centroid table — the input
    * [[pqEncoded]] expects. */
  private def assignWithResidual(e: DataFrame, cents: DataFrame): DataFrame = {
    val centsD = cents.select(col("cent_id"),
      transform(col("cvec"), x => x.cast("double")).as("cvec_d"))
    assignCells(e, cents)
      .join(broadcast(centsD), Seq("cent_id"))
      .withColumn("res", zip_with(
        transform(col("embedding"), x => x.cast("double")), col("cvec_d"),
        (a, b) => a - b))
  }

  /** Codebook cache, keyed on centroid geometry like [[centDfCache]]
    * (appends never retrain): cb(s)(j) = the D-dim residual codebook
    * entry — PqS×PqK×D doubles, bounded. */
  private val cbCache =
    new java.util.LinkedHashMap[(String, String), Array[Array[Array[Double]]]](8, 0.75f, true) {
      override def removeEldestEntry(
          eldest: java.util.Map.Entry[(String, String), Array[Array[Array[Double]]]]): Boolean =
        size() > 32
    }

  private def codebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val key = (path, geometryOf(fs, path))
    cbCache.synchronized {
      val hit = cbCache.get(key)
      if (hit != null) hit
      else {
        val rows = spark.read.parquet(s"$path/codebooks").collect()
          .map(r => ((r.getInt(r.fieldIndex("s")), r.getInt(r.fieldIndex("j"))),
            r.getSeq[Double](r.fieldIndex("remb")).toArray)).toMap
        val arr = Array.tabulate(PqS, PqK)((s0, j) => rows((s0, j)))
        cbCache.put(key, arr)
        arr
      }
    }
  }

  /** Incremental ingest into an EXISTING index (the reference upserts
    * embeddings into its Qdrant collection continuously as news
    * arrives — build-once/serve-many needs an append path, not a
    * rebuild): new vectors are assigned against the index's OWN stored
    * centroids (so cell geometry never drifts from what searches
    * probe) and appended to their cell directories — a partitioned
    * append, rows move once keyed by cent_id, existing files untouched;
    * the batch is clustered by cent_id first, so one append adds at
    * most one file per touched cell. The
    * centroids come from the geometry-keyed serve cache, and since an
    * append never moves them, the centroid table, codebooks and probe
    * lists stay resident across it — only the cells relation is
    * re-resolved by the next search. The marker count advances (the
    * build id and cv carry over) so a later `buildIfAbsent` over the
    * grown corpus correctly no-ops. Not atomic across cells the way the
    * initial publish is; concurrent searches may see a prefix of the
    * batch (append semantics, SURVEY §2 K1 — the same contract as the
    * event sinks). */
  def append(newVectors: DataFrame, path: String): Unit =
    // serialized per path in this JVM so the marker read-modify-write
    // can't lose a concurrent append's count (ADVICE r5); cross-JVM the
    // index is single-writer (see lockFor).
    lockFor(path).synchronized {
      val spark = newVectors.sparkSession
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val marker = new Path(new Path(path), Marker)
      require(fs.exists(marker), s"IvfIndex.append: no index at $path")
      val old = readMarker(fs, marker)
      val cents = centroidsDf(spark, path)
      val added = newVectors.count()
      val layout = old.split(",")(0) // appended rows match the stored layout
      val cells =
        if (layout == PqLayoutVersion || layout == TrainedPqLayoutVersion) {
          // PQ index (donor or trained): encode against the STORED
          // codebooks (read under the current stamp, before the marker
          // advances) so appended codes dequantize against exactly what
          // searches look up — the codebook RULE doesn't matter here,
          // only the persisted entries do
          val cb = codebooks(spark, path)
          pqEncoded(assignWithResidual(newVectors, cents), cb, cb(0)(0).length)
        } else {
          val assigned = assignCells(newVectors, cents)
          if (layout == QuantLayoutVersion) quantizeCells(assigned) else assigned
        }
      // clustered by cent_id, every touched cell lands in ONE writer task
      // (at most one new file per cell); an append's cost is per file,
      // not per row, so the writers spread up to the core count
      val writers = math.max(1L,
        math.min(spark.sparkContext.defaultParallelism.toLong, added)).toInt
      cells.repartition(writers, col("cent_id"))
        .write.mode("append").partitionBy("cent_id")
        .parquet(s"$path/cells")
      val oldCount = markerField(old, "count")
      // k from the old marker; pre-k-stamp legacy markers re-derive it
      // from the stored centroid table
      val suffix =
        (if (layout == TrainedPqLayoutVersion)
          s",pqs=$PqS,pqk=$PqK,ti=${markerField(old, "ti")}"
        else if (layout == PqLayoutVersion) s",pqs=$PqS,pqk=$PqK"
        else "") +
        // the centroid-table version survives appends (a dropped cv
        // would point readers back at a garbage-collected directory)
        markerFieldOpt(old, "cv").map(v => s",cv=$v").getOrElse("") +
        markerText(old, "bid").map(b => s",bid=$b").getOrElse("")
      val k = markerFieldOpt(old, "k").getOrElse(cents.count())
      val out = fs.create(marker, true)
      try out.write(
        (s"$layout,k=$k,count=${oldCount + added}" + suffix)
          .getBytes("UTF-8"))
      finally out.close()
    }

  /** Split oversized cells — the maintenance pass the reference delegates
    * to Qdrant's background optimizer (init_qdrant.py:38-58 builds the
    * collection once; the store rebalances segments as upserts accumulate).
    * [[append]] assigns new vectors to the EXISTING centroid set, never
    * moving it, so a drifting corpus piles rows into a few hot cells:
    * fixed-nprobe searches lose probe mass while the hot-cell scan cost
    * grows unboundedly. One rebalance pass splits every cell larger than
    * `oversizeFactor` × the mean cell size (floored at `minCellRows` so
    * toy indexes never split): a grouped cosine 2-means
    * ([[VectorOps.kmeansCentroidsGroupedDf]] — ONE Lloyd chain refines
    * ALL splits together, the q_v12 trainer's pattern) refines two
    * children seeded from each cell's min/max-vec_id vectors, the cell's
    * rows re-assign by the build's own (sim, −cent_id) argmax rule, and
    * ONLY touched cell directories are rewritten (dynamic partition
    * overwrite — untouched cells' files are never opened; child 0 keeps
    * the old cent_id, child 1 takes a fresh id past the current k). The
    * marker advances (k grows, mtime bumps) so served handles, probe
    * lists and resident cell scans age out by key. Returns the number of
    * cells split.
    *
    * A split whose 2-means collapses (every row in one child) is
    * CANCELED — cell and centroid stay untouched. That is the trainer
    * saying the cell is one tight cluster, and dynamic overwrite could
    * not express the empty-child case anyway (an unwritten partition
    * keeps its old files).
    *
    * Layouts: flat and int8 only — payloads move verbatim (per-vector
    * (q, scale) is cell-independent, so a moved row serves bit-identical
    * scores). PQ layouts refuse: their codes are lossy residuals AGAINST
    * the old centroid and a split needs the raw corpus — rebuild those.
    *
    * Concurrency (ADVICE r10 #1): the CENTROID swap is rename-free —
    * each rebalance publishes `centroids.v&lt;n&gt;/` and then advances the
    * marker, retaining the replaced version one full cycle, so a
    * lock-free search always finds the table its stamp names. The
    * residual caveat is the CELLS side: dynamic partition overwrite
    * replaces a split cell's files at commit, so a search that probed
    * that exact cell mid-swap can observe a vanished file — the
    * marker-gated caches self-invalidate and a retry serves from the
    * new layout (same retry-once discipline as [[append]]'s
    * in-progress-file read).
    *
    * Scale shape: the size census is one partial-aggregated count per
    * cell (k rows to the driver — the same class as the probe list);
    * seeds, Lloyd refinement and the re-assignment all scan only the
    * oversized cells (partition-pruned), and nothing corpus-sized ever
    * collects. */
  def rebalance(spark: SparkSession, path: String,
      oversizeFactor: Double = 4.0, minCellRows: Long = 64L,
      iters: Int = 3): Int =
    lockFor(path).synchronized {
      val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val stamp = markerStamp(fs, path)
      val layout = stamp.split(",")(0)
      require(layout == LayoutVersion || layout == QuantLayoutVersion,
        s"IvfIndex.rebalance: layout $layout stores residual codes " +
          "relative to its centroids; splitting a cell needs raw vectors " +
          "— rebuild the PQ index instead")
      val quant = layout == QuantLayoutVersion
      val n = markerField(stamp, "count")
      val cents = spark.read.parquet(centroidsDirOf(path, stamp))
        .select(col("cent_id").cast("long").as("cent_id"),
          transform(col("cvec"), x => x.cast("double")).as("cvec"))
      val k = cents.count()
      // fresh child ids start past the LARGEST existing id, not past k:
      // repeated rebalances keep ids collision-free even if the caller's
      // initial centroid ids were sparse
      val maxId = cents.agg(max("cent_id")).head.getLong(0)
      require(maxId < Int.MaxValue - k,
        s"IvfIndex.rebalance: centroid id space exhausted at $path")
      val dim = cents.select("cvec").head.getSeq[Any](0).size
      val cells = spark.read.parquet(s"$path/cells")
      val threshold =
        math.max(oversizeFactor * n.toDouble / k, minCellRows.toDouble)
      val over = cells.groupBy("cent_id").count()
        .filter(col("count") > threshold)
        .select("cent_id").collect().map(_.getInt(0)).sorted
      if (over.isEmpty) return 0
      val overBoxed = over.map(Int.box)
      val vExpr =
        if (quant) transform(col("q"), b => b.cast("double") * col("scale"))
        else transform(col("embedding"), x => x.cast("double"))
      val payload =
        if (quant) Seq(col("q"), col("scale")) else Seq(col("embedding"))
      val src = cells
        .filter(col("cent_id").isin(overBoxed: _*))
        .select(Seq(col("cent_id").as("s"), col("vec_id"), col("label"),
          vExpr.as("__v")) ++ payload: _*)
      // deterministic seeds: each cell's min- and max-vec_id vectors
      // (distinct rows — a 1-row cell can't exceed the >=64-row floor).
      // append() never dedupes, so a re-ingested duplicate of a boundary
      // vec_id would yield multiple rows per (s, cent_id) and propagate
      // through the grouped Lloyd join into duplicate published
      // centroid ids (ADVICE r10 #2) — one deterministic survivor per
      // seed slot, tie-broken on the payload hash, closes that.
      val bounds = src.groupBy("s")
        .agg(min("vec_id").as("lo"), max("vec_id").as("hi"))
      val seedW = org.apache.spark.sql.expressions.Window
        .partitionBy("s", "cent_id")
        .orderBy(hash(col("cvec")), xxhash64(col("cvec")))
      val seeds = src.join(broadcast(bounds), Seq("s"))
        .filter(col("vec_id") === col("lo") || col("vec_id") === col("hi"))
        .select(col("s"),
          when(col("vec_id") === col("lo"), lit(0)).otherwise(lit(1))
            .as("cent_id"),
          col("__v").as("cvec"))
        .withColumn("__rs", row_number().over(seedW))
        .filter(col("__rs") === 1).drop("__rs")
      val refined = VectorOps.kmeansCentroidsGroupedDf(
        src, "__v", seeds, iters, dim)
      // final assignment under the refined children — same argmax rule
      // as assignCells (ties -> smallest child id)
      val childsBys = refined.groupBy("s").agg(
        collect_list(struct(col("cent_id"), col("cvec"))).as("cs"))
      val best = array_max(transform(col("cs"), c =>
        struct(cosine(col("__v"), c.getField("cvec")).as("sim"),
          (-c.getField("cent_id")).as("nid"))))
      val assigned = src.join(broadcast(childsBys), Seq("s"))
        .withColumn("__child", -best.getField("nid"))
      // cancel collapsed splits: both children must land rows
      val childCounts = assigned.groupBy("s", "__child").count()
        .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
      val accepted = over.filter(c =>
        childCounts.contains((c, 0)) && childCounts.contains((c, 1)))
      if (accepted.isEmpty) return 0
      val newIdOf = accepted.zipWithIndex
        .map { case (c, i) => c -> (maxId + 1 + i).toInt }.toMap
      val newIdMap = typedLit(newIdOf)
      val outCols =
        Seq(col("vec_id"), col("label")) ++ payload :+
          when(col("__child") === 0, col("s"))
            .otherwise(element_at(newIdMap, col("s"))).as("cent_id")
      assigned
        .filter(col("s").isin(accepted.map(Int.box): _*))
        .select(outCols: _*)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cent_id")
        .parquet(s"$path/cells")
      // centroid table: refined children replace each split cell's entry
      // (cent_id stays BIGINT — the serve path's probe rows read longs)
      val newCents = cents
        .filter(!col("cent_id").isin(accepted.map(c => Long.box(c.toLong)): _*))
        .unionByName(refined
          .filter(col("s").isin(accepted.map(Int.box): _*))
          .select(
            when(col("cent_id") === 0, col("s"))
              .otherwise(element_at(newIdMap, col("s")))
              .cast("long").as("cent_id"),
            col("cvec")))
      // versioned publish (ADVICE r10 #1): the replacement table lands
      // in a FRESH directory and the marker then points at it — no
      // delete-before-rename window, so lock-free concurrent searches
      // keep a readable centroid table under whichever stamp they hold.
      // The immediately-replaced version is RETAINED for one full
      // rebalance cycle (in-flight searches that resolved the old stamp
      // finish against it); only the version before that is collected.
      val oldCv = markerFieldOpt(stamp, "cv").getOrElse(0L)
      val newCv = oldCv + 1
      newCents.coalesce(1).write.mode("overwrite")
        .parquet(s"$path/centroids.v$newCv")
      val out = fs.create(new Path(new Path(path), Marker), true)
      try out.write(
        (s"$layout,k=${k + accepted.length},count=$n,cv=$newCv" +
          markerText(stamp, "bid").map(b => s",bid=$b").getOrElse(""))
          .getBytes("UTF-8"))
      finally out.close()
      if (oldCv >= 1) {
        val prev = oldCv - 1
        fs.delete(new Path(path,
          if (prev == 0) "centroids" else s"centroids.v$prev"), true)
      }
      accepted.length
    }

  private def markerStamp(fs: FileSystem, path: String): String = {
    val in = fs.open(new Path(new Path(path), Marker))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Cache-key form of the marker: stamp + marker-file mtime. A
    * delete+rebuild with an unchanged corpus reproduces the SAME stamp
    * (layout + count carry no build identity), so any cache keyed on
    * the stamp alone would keep serving file handles / centroid rows /
    * probe lists from the DELETED build — measured as FILE_NOT_EXIST in
    * the r10 ann_scaled rebuild loop once cellsDf started reusing
    * relations. The marker is rewritten on every publish, so its mtime
    * is a build-unique token that needs no layout change. */
  private def markerVersion(fs: FileSystem, path: String): String = {
    val m = new Path(new Path(path), Marker)
    markerStamp(fs, path) + "@" + fs.getFileStatus(m).getModificationTime
  }

  /** Cache-key form of the CENTROID GEOMETRY: build id plus centroid
    * version. Appends keep both (they never move centroids), a rebalance
    * bumps cv, a rebuild draws a new build id — so the centroid table,
    * codebooks and probe lists survive exactly the publishes that leave
    * them valid. A marker without a build id (an index built before ids
    * existed) falls back to [[markerVersion]]: every publish invalidates. */
  private def geometryOf(fs: FileSystem, path: String): String = {
    val stamp = markerStamp(fs, path)
    markerText(stamp, "bid")
      .map(b => s"$b,cv=${markerFieldOpt(stamp, "cv").getOrElse(0L)}")
      .getOrElse(markerVersion(fs, path))
  }

  /** Served-centroid DataFrame cache, keyed (path, geometry, sessionUuid):
    * the k×dim coarse quantizer stays CACHED ON THE EXECUTORS as
    * columnar rows, never as a driver array (VERDICT r7 next #4 — the
    * old driver-resident cache was a ~400 MB heap spike per index at
    * the 65536-cell clamp; the build path was made fully distributed in
    * r7 and the serve path now matches). Session-keyed like
    * [[NswIndex]]'s served handles (a DataFrame is bound to its
    * session; ADVICE r6); an append keeps the entry, a rebuild or
    * rebalance changes the geometry key and the stale handle is
    * unpersisted on the next miss. */
  private val centDfCache =
    new java.util.LinkedHashMap[(String, String, String), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          eldest: java.util.Map.Entry[(String, String, String), DataFrame]): Boolean =
        if (size() > 8) {
          try eldest.getValue.unpersist(blocking = false)
          catch { case _: Throwable => () }
          true
        } else false
    }

  private def centroidsDf(spark: SparkSession, path: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val key = (path, geometryOf(fs, path),
      graft.GraftSession.sessionUuid(spark))
    centDfCache.synchronized {
      val hit = centDfCache.get(key)
      if (hit != null) hit
      else {
        // evict any STALE same-path residency first: while an older
        // build's centroids stay persisted, Spark's CacheManager would
        // substitute the fresh same-plan scan with the old in-memory
        // rows (canonical-plan matching) — the re-read must hit disk
        val it = centDfCache.entrySet().iterator()
        while (it.hasNext) {
          val e0 = it.next()
          if (e0.getKey._1 == path && e0.getKey != key) {
            try e0.getValue.unpersist(blocking = true)
            catch { case _: Throwable => () }
            it.remove()
          }
        }
        // one partition: <= 32 MB at the clamp, and probe selection is a
        // single-task TakeOrderedAndProject over the cached batch
        val df = spark.read.parquet(
            centroidsDirOf(path, markerStamp(fs, path)))
          .select(col("cent_id").cast("long").as("cent_id"),
            transform(col("cvec"), x => x.cast("double")).as("cvec"))
          .coalesce(1)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        df.count() // materialize so serve-time probe jobs scan cached rows
        centDfCache.put(key, df)
        df
      }
    }
  }

  /** Cell-relation handle cache, keyed (path, stamp, sessionUuid): a
    * fresh `spark.read.parquet` on every search rebuilds the file index
    * — a full recursive listing of the hive-partitioned cell dirs per
    * QUERY, which on an object store at index scale is a per-call
    * listing storm (and tens of ms even on local disk). Reusing the
    * resolved relation keeps the listing cached inside the plan while
    * per-query partition PRUNING still applies (the probe filter is
    * evaluated against the cached partition spec). Nothing is persisted
    * — this caches metadata, not cell data; a rebuild/append changes
    * the stamp so stale handles age out. A re-resolution after a
    * publish reuses the previous relation's schema (appends and
    * rebalances never change it), so only the listing is re-paid, not
    * the footer-inference job. */
  private val cellDfCache =
    new java.util.LinkedHashMap[(String, String, String), DataFrame](8, 0.75f, true) {
      override def removeEldestEntry(
          eldest: java.util.Map.Entry[(String, String, String), DataFrame]): Boolean =
        size() > 16
    }

  private def cellsDf(spark: SparkSession, path: String): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val key = (path, markerVersion(fs, path),
      graft.GraftSession.sessionUuid(spark))
    cellDfCache.synchronized {
      val hit = cellDfCache.get(key)
      if (hit != null) hit
      else {
        // a rebuild may change the layout, so only a same-build entry
        // lends its schema
        def bidOf(version: String) = markerText(version.split('@')(0), "bid")
        val bid = bidOf(key._2)
        var schema: Option[org.apache.spark.sql.types.StructType] = None
        val it = cellDfCache.entrySet().iterator()
        while (it.hasNext) {
          val e0 = it.next()
          if (e0.getKey._1 == path && e0.getKey._3 == key._3) {
            if (bid.isDefined && bidOf(e0.getKey._2) == bid)
              schema = Some(e0.getValue.schema)
            it.remove()
          }
        }
        val df = schema.fold(spark.read)(spark.read.schema(_))
          .parquet(s"$path/cells")
        cellDfCache.put(key, df)
        df
      }
    }
  }

  /** Probe lists are nprobe-sized — bounded driver state, and serving
    * workloads re-issue the same query vectors, so memoize per
    * (path, centroid geometry, query, nprobe): appends keep them. */
  private val probeCache =
    new java.util.LinkedHashMap[(String, String, Seq[Double], Int), Array[(Long, Array[Double])]](
      16, 0.75f, true) {
      override def removeEldestEntry(
          eldest: java.util.Map.Entry[(String, String, Seq[Double], Int), Array[(Long, Array[Double])]]): Boolean =
        size() > 256
    }

  /** Probe selection as a TINY distributed job: score every centroid
    * in-plan ([[VectorOps.cosine]] — the same codegen'd fold the q_v6
    * family and the DuckDB oracle mirror, so probe RANKING is unchanged
    * bit-for-bit), take the top nprobe with the same (sim DESC, cent_id)
    * tie order, and collect ONLY those nprobe (id, vector) rows. The
    * driver never holds the k-sized centroid set on any path. */
  private def selectProbes(spark: SparkSession, path: String,
      queryVec: Seq[Double], nprobe: Int): Array[(Long, Array[Double])] = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val key = (path, geometryOf(fs, path), queryVec, nprobe)
    probeCache.synchronized(Option(probeCache.get(key))).getOrElse {
      val rows = centroidsDf(spark, path)
        .withColumn("sim", cosine(col("cvec"), typedLit(queryVec)))
        .orderBy(desc("sim"), col("cent_id"))
        .limit(nprobe)
        .select(col("cent_id"), col("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      probeCache.synchronized(probeCache.put(key, rows))
      rows
    }
  }

  /** Batch size at or above which [[searchTopKBatch]] assigns probes as
    * ONE distributed job instead of a per-query [[selectProbes]] loop
    * (VERDICT r10 next #4): the loop runs a tiny Spark job per query —
    * fine at 8 queries, but at ivfK's 65,536 ceiling each selection
    * scores k×dim ≈ 4M cosine terms, and 10k queries would serialize
    * ~50M flops per query through the driver's job queue before the
    * cluster touches a cell. */
  private[graft] val DistributedProbeBatchThreshold = 64

  /** Probe assignment for a whole query batch as ONE job: the query set
    * broadcasts against the executor-cached centroid table, per-qid
    * top-nprobe runs as the partially-aggregating `graft_topk` heap
    * (same (sim DESC, cent_id) tie order as [[selectProbes]] — parity
    * pinned transitively by IvfBatchSpec's large-batch tests), the
    * ranked ids join back to the centroid table for their vectors, and
    * only |queries|·nprobe (qid, rank, cent_id, cvec) rows reach the
    * driver (the same per-query rows the loop collected — bounded, but
    * ONE job instead of |queries| driver-serialized jobs). Returned
    * per-query arrays are in probe-rank order, which the PQ batch
    * path's gp indexing depends on. */
  private def selectProbesBatch(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[Double])],
      nprobe: Int): Map[Long, Array[(Long, Array[Double])]] = {
    import spark.implicits._
    val qDf = queries.toDF("qid", "qvec")
    val cdf = centroidsDf(spark, path)
    cdf
      .crossJoin(broadcast(qDf))
      .withColumn("sim", cosine(col("cvec"), col("qvec")))
      .groupBy("qid")
      .agg(call_function("graft_topk", col("sim"),
        col("cent_id").cast("long"), lit(nprobe)).as("pc"))
      .select(col("qid"), posexplode(col("pc.vec_id")))
      .select(col("qid"), col("pos"), col("col").as("cent_id"))
      .join(cdf.select(col("cent_id").cast("long").as("cent_id"),
        col("cvec")), Seq("cent_id"))
      .select(col("qid"), col("pos"), col("cent_id"), col("cvec"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getSeq[Double](3).toArray))
      .groupBy(_._1)
      .map { case (qid, rows) =>
        qid -> rows.sortBy(_._2).map(t => (t._3, t._4))
      }
  }

  /** Top-k cosine search against a prebuilt index: probe selection as a
    * tiny job over the executor-cached centroid table
    * ([[selectProbes]] — nprobe rows reach the driver, never the k-sized
    * set), then ONE partition-pruned cell scan with a scored
    * `TakeOrderedAndProject` top-k. Quantized indexes
    * ([[QuantLayoutVersion]]) dequantize in the same narrow
    * projection — no extra pass, no extra exchange. */
  def searchTopK(spark: SparkSession, path: String, queryVec: Seq[Double],
      nprobe: Int, k: Int): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stamp = markerStamp(fs, path)
    // small-collection guard (init_qdrant.py:47, full_scan_threshold):
    // below the threshold, skip cell pruning and scan everything — for
    // flat/int8 layouts that is the EXACT brute-force answer; PQ layouts
    // widen nprobe to every cell (still ADC — codes are all that's
    // stored) so no probed-cell miss can cost recall at toy sizes.
    val fullScan = markerField(stamp, "count") < FullScanThreshold
    if (stamp.startsWith(PqLayoutVersion) ||
        stamp.startsWith(TrainedPqLayoutVersion)) {
      val np = if (fullScan) markerField(stamp, "k").toInt else nprobe
      return searchTopKPq(spark, path, queryVec, np, k)
    }
    val quantized = stamp.startsWith(QuantLayoutVersion)
    val scored =
      if (fullScan) cellsDf(spark, path)
      else {
        val probeIds = selectProbes(spark, path, queryVec, nprobe).map(_._1)
        cellsDf(spark, path)
          .filter(col("cent_id").isin(probeIds: _*))
      }
    // quantized cells score through the FUSED dequant-cosine expression
    // (functions/DequantCosine — bit-identical to cosine(dequant, lit),
    // but codegen'd and allocation-free; the HOF dequant would run the
    // whole scan interpreted)
    val score =
      if (quantized)
        call_function("graft_dequant_cosine",
          col("q"), col("scale"), typedLit(queryVec))
      else cosine(col("embedding"), typedLit(queryVec))
    scored
      .withColumn("score", score)
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("score"), 6).as("score"))
  }

  /** Multi-query top-k over a flat/int8 index — the BATCH serving shape
    * (queries arrive in batches in any real serving workload; the
    * one-query [[searchTopK]] pays a full Spark job per call). ONE
    * partition-pruned scan of the union of every query's probed cells, a
    * broadcast join against the (qid, cent_id, qvec) probe table
    * (|queries|·nprobe rows — bounded driver state), per-row scoring
    * inside whole-stage codegen ([[graft.functions.DequantCosineCol]]
    * for int8 layouts; the query vector is a JOINED COLUMN, so the
    * generated code is batch-invariant by construction), and a per-qid
    * bounded k-heap (`graft_topk`, partial aggregation) — k·|queries|
    * rows cross the single exchange, never the scored corpus.
    *
    * Output: (qid, rank, vec_id, score) ordered by (qid, rank) — the
    * q_v2b batch-kNN contract, SQL-mirrorable per query.
    */
  def searchTopKBatch(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[Double])], nprobe: Int, k: Int): DataFrame = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val stamp = markerStamp(fs, path)
    val fullScan = markerField(stamp, "count") < FullScanThreshold
    if (stamp.startsWith(PqLayoutVersion) ||
        stamp.startsWith(TrainedPqLayoutVersion)) {
      val np = if (fullScan) markerField(stamp, "k").toInt else nprobe
      return searchTopKBatchPq(spark, path, queries, np, k)
    }
    val quantized = stamp.startsWith(QuantLayoutVersion)
    import spark.implicits._
    val probeRows: Seq[(Long, Long, Seq[Double])] =
      if (fullScan) {
        val allCells = centroidsDf(spark, path)
          .select(col("cent_id")).collect().map(_.getLong(0)).toSeq
        queries.flatMap { case (qid, qv) => allCells.map(c => (qid, c, qv)) }
      } else if (queries.size >= DistributedProbeBatchThreshold) {
        val byQ = selectProbesBatch(spark, path, queries, nprobe)
        queries.flatMap { case (qid, qv) =>
          byQ(qid).map { case (cid, _) => (qid, cid, qv) }
        }
      } else queries.flatMap { case (qid, qv) =>
        selectProbes(spark, path, qv, nprobe)
          .map { case (cid, _) => (qid, cid, qv) }
      }
    val probeDf = probeRows.toDF("qid", "cent_id", "qvec")
    val cellIds = probeRows.map(_._2).distinct
    val cells =
      if (fullScan) cellsDf(spark, path)
      else cellsDf(spark, path).filter(col("cent_id").isin(cellIds: _*))
    val score =
      if (quantized)
        call_function("graft_dequant_cosine_col",
          col("q"), col("scale"), col("qvec"))
      else cosine(col("embedding"), col("qvec"))
    cells
      .join(broadcast(probeDf), Seq("cent_id"))
      .withColumn("score", score)
      .groupBy("qid")
      .agg(call_function("graft_topk", col("score"), col("vec_id"), lit(k))
        .as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"),
        round(col("col.score"), 6).as("score"))
      .orderBy("qid", "rank")
  }

  /** PQ arm of [[searchTopKBatch]]: per-query ADC tables concatenated
    * into batch references, indexed by the GLOBAL PROBE POSITION
    * `gp = queryIndex · nprobe + probeRank` that the broadcast probe
    * table carries — so scoring is direct table indexing inside
    * whole-stage codegen ([[graft.functions.AdcScoreAt]]), no per-row
    * probe-list scan and no per-query plan. Tables total
    * |queries|·nprobe·s̄·k doubles (bounded driver state — the same
    * per-query tables [[searchScoredPq]] computes, concatenated).
    * Ranking is per-query identical to [[searchTopKPq]] (AdcBatchSpec).
    */
  private def searchTopKBatchPq(spark: SparkSession, path: String,
      queries: Seq[(Long, Seq[Double])], nprobe: Int, k: Int): DataFrame = {
    val cb = codebooks(spark, path)
    val d = cb(0)(0).length
    queries.foreach { case (qid, qv) =>
      require(qv.length == PqS * d,
        s"IvfIndex PQ batch: query $qid dim ${qv.length} != PqS*d = ${PqS * d}")
    }
    def foldDot(a: Int => Double, b: Int => Double, n: Int): Double =
      (0 until n).map(i => a(i) * b(i)).reduceLeft(_ + _)
    val rn2 = Array.tabulate(PqS, PqK)((s0, j) =>
      foldDot(i => cb(s0)(j)(i), i => cb(s0)(j)(i), d))
    // large batches assign probes in ONE distributed job (rank order
    // preserved — gp indexing below depends on it); small batches keep
    // the memoized per-query path
    val batchProbes: Option[Map[Long, Array[(Long, Array[Double])]]] =
      if (queries.size >= DistributedProbeBatchThreshold)
        Some(selectProbesBatch(spark, path, queries, nprobe))
      else None
    val perQ = queries.map { case (qid, qvSeq) =>
      val qv = qvSeq.toArray
      val probes = batchProbes.map(_(qid))
        .getOrElse(selectProbes(spark, path, qvSeq, nprobe))
      val qdotr = Array.tabulate(PqS, PqK)((s0, j) =>
        foldDot(i => qv(s0 * d + i), i => cb(s0)(j)(i), d))
      val qNorm = math.sqrt(foldDot(qv(_), qv(_), qv.length))
      val qc = probes.map { case (_, cvec) => foldDot(qv(_), cvec(_), qv.length) }
      val cn2 = probes.map { case (_, cvec) => foldDot(cvec(_), cvec(_), cvec.length) }
      val cdotr = probes.flatMap { case (_, cvec) =>
        (0 until PqS).flatMap(s0 => (0 until PqK).map(j =>
          foldDot(i => cvec(s0 * d + i), i => cb(s0)(j)(i), d)))
      }
      (qid, probes.map(_._1), qc, cn2, cdotr, qdotr.flatten, qNorm)
    }
    // every query must carry exactly nprobe probes for the gp layout;
    // selectProbes takes the top nprobe of k cells, so the only short
    // case is k < nprobe — widen is the caller's job (full-scan arm)
    perQ.foreach { case (qid, ids, _, _, _, _, _) =>
      require(ids.length == perQ.head._2.length,
        s"IvfIndex PQ batch: query $qid probed ${ids.length} cells, " +
          s"others ${perQ.head._2.length} — ragged probe lists break gp indexing")
    }
    val npEff = perQ.head._2.length
    import spark.implicits._
    val probeDf = perQ.zipWithIndex.flatMap { case ((qid, ids, _, _, _, _, _), qi) =>
      ids.zipWithIndex.map { case (cid, p) => (qid, cid, qi * npEff + p) }
    }.toDF("qid", "cent_id", "gp")
    val cellIds = perQ.flatMap(_._2).distinct
    val cells = cellsDf(spark, path)
      .filter(col("cent_id").isin(cellIds: _*))
    cells
      .join(broadcast(probeDf), Seq("cent_id"))
      .withColumn("score", call_function("graft_adc_score_at",
        col("code"), col("gp"),
        typedLit(perQ.flatMap(_._3).toSeq), typedLit(perQ.flatMap(_._4).toSeq),
        typedLit(perQ.flatMap(_._5).toSeq), typedLit(perQ.flatMap(_._6).toSeq),
        typedLit(rn2.flatten.toSeq), typedLit(perQ.map(_._7).toSeq),
        lit(npEff), lit(PqS), lit(PqK)))
      .groupBy("qid")
      .agg(call_function("graft_topk", col("score"), col("vec_id"), lit(k))
        .as("nbrs"))
      .select(col("qid"), posexplode(col("nbrs")))
      .select(col("qid"), (col("pos") + 1).cast("int").as("rank"),
        col("col.vec_id").as("vec_id"),
        round(col("col.score"), 6).as("score"))
      .orderBy("qid", "rank")
  }

  /** ADC search against a PQ index ([[PqLayoutVersion]]): probe
    * selection via [[selectProbes]] (nprobe rows to the driver), ADC
    * tables computed on the driver (PqS×PqK query dots + residual
    * norms, plus per-PROBED-cell centroid terms — nprobe×PqS×PqK
    * doubles, never k-sized), then
    * ONE partition-pruned cell scan whose scoring is pure table
    * lookups: approx cos(q, c + r̂) =
    * (⟨q,c⟩ + Σₛ qdotr[s][code_s]) /
    * (‖q‖ · sqrt(‖c‖² + 2·Σₛ cdotr[s][code_s] + Σₛ rn2[s][code_s])).
    * Fold orders are fixed (left-assoc, subspaces ascending) and
    * mirrored verbatim in q_v11's oracle SQL. */
  private def searchTopKPq(spark: SparkSession, path: String,
      queryVec: Seq[Double], nprobe: Int, k: Int): DataFrame =
    searchScoredPq(spark, path, queryVec, nprobe)
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), round(col("score"), 6).as("score"))

  /** The ADC-scored candidate set of a PQ search BEFORE the top-k cut,
    * scores unrounded — the recall instrument (q_v11b) ranks on these
    * so its oracle can mirror the ordering exactly.
    *
    * The default serve plan is the FUSED one (r10 — VERDICT r9 next #1:
    * the joined element_at form measured 1.93 s amortized vs int8's
    * 0.14 s at identical nprobe, the wrong side of the tradeoff PQ
    * implements): all ADC tables fold into a single codegen'd
    * [[graft.functions.AdcScore]] expression, so serving is scan →
    * partition-pruned filter → one expression → TakeOrderedAndProject,
    * with no per-query broadcast join and no array-literal probe
    * chains. `fused = false` keeps the joined element_at plan
    * addressable — AdcScoreSpec pins bit-parity between the two, which
    * is what keeps the q_v11 family's DuckDB hash oracle green across
    * the swap. */
  def searchScoredPq(spark: SparkSession, path: String,
      queryVec: Seq[Double], nprobe: Int, fused: Boolean = true): DataFrame = {
    val cb = codebooks(spark, path)
    // derive the subspace width from the STORED codebook, and fail loudly
    // on a query of mismatched dimension — integer division from the
    // query would silently mis-slice the ADC tables (ADVICE r7, low)
    val d = cb(0)(0).length
    require(queryVec.length == PqS * d,
      s"IvfIndex PQ search: query dim ${queryVec.length} != " +
        s"PqS*d = ${PqS * d} of the stored codebook")
    val qv = queryVec.toArray
    def foldDot(a: Int => Double, b: Int => Double, n: Int): Double =
      (0 until n).map(i => a(i) * b(i)).reduceLeft(_ + _)
    val qdotr = Array.tabulate(PqS, PqK)((s0, j) =>
      foldDot(i => qv(s0 * d + i), i => cb(s0)(j)(i), d))
    val rn2 = Array.tabulate(PqS, PqK)((s0, j) =>
      foldDot(i => cb(s0)(j)(i), i => cb(s0)(j)(i), d))
    val qNorm = math.sqrt(foldDot(qv(_), qv(_), qv.length))
    val probes = selectProbes(spark, path, queryVec, nprobe)
    val cells = cellsDf(spark, path)
      .filter(col("cent_id").isin(probes.map(_._1): _*))
    if (fused) {
      val centIds = probes.map(_._1)
      val qcArr = probes.map { case (_, cvec) => foldDot(qv(_), cvec(_), qv.length) }
      val cn2Arr = probes.map { case (_, cvec) => foldDot(cvec(_), cvec(_), cvec.length) }
      val cdotrFlat = probes.flatMap { case (_, cvec) =>
        (0 until PqS).flatMap(s0 => (0 until PqK).map(j =>
          foldDot(i => cvec(s0 * d + i), i => cb(s0)(j)(i), d)))
      }
      cells
        .withColumn("score", call_function("graft_adc_score",
          col("code"), col("cent_id"),
          typedLit(centIds.toSeq), typedLit(qcArr.toSeq), typedLit(cn2Arr.toSeq),
          typedLit(cdotrFlat.toSeq),
          typedLit(qdotr.flatten.toSeq), typedLit(rn2.flatten.toSeq),
          lit(qNorm), lit(PqS), lit(PqK)))
        .select(col("vec_id"), col("label"), col("score"))
    } else {
      import spark.implicits._
      val probeTable = probes.toSeq.map { case (id, cvec) =>
        val qc = foldDot(qv(_), cvec(_), qv.length)
        val cn2 = foldDot(cvec(_), cvec(_), cvec.length)
        val cdotr = (0 until PqS).map(s0 => (0 until PqK).map(j =>
          foldDot(i => cvec(s0 * d + i), i => cb(s0)(j)(i), d)).toSeq).toSeq
        (id, qc, cn2, cdotr)
      }.toDF("cent_id", "qc", "cn2", "cdotr")
      def codeAt(s0: Int) = element_at(col("code"), s0 + 1).cast("int") + 1
      val dotr = (0 until PqS).map(s0 =>
        element_at(typedLit(qdotr(s0).toSeq), codeAt(s0))).reduceLeft(_ + _)
      val cdr = (0 until PqS).map(s0 =>
        element_at(element_at(col("cdotr"), s0 + 1), codeAt(s0))).reduceLeft(_ + _)
      val rn2s = (0 until PqS).map(s0 =>
        element_at(typedLit(rn2(s0).toSeq), codeAt(s0))).reduceLeft(_ + _)
      cells
        .join(broadcast(probeTable), Seq("cent_id"))
        .withColumn("score",
          (col("qc") + dotr) /
            (lit(qNorm) * sqrt(col("cn2") + lit(2.0) * cdr + rn2s)))
        .select(col("vec_id"), col("label"), col("score"))
    }
  }

  /** Row count of the cells `queryVec` would probe at `nprobe` — the
    * per-query scan volume. With ivfK holding mean cell size at
    * ~TargetCellRows, this is ~nprobe*TargetCellRows at ANY corpus size;
    * Bench's ann_scaled block reports it alongside serve latency to
    * certify that a fixed-nprobe serve touches constant bytes while the
    * corpus grows. */
  def probedRows(spark: SparkSession, path: String, queryVec: Seq[Double],
      nprobe: Int): Long = {
    val probeIds = selectProbes(spark, path, queryVec, nprobe).map(_._1)
    cellsDf(spark, path)
      .filter(col("cent_id").isin(probeIds: _*)).count()
  }

  /** Total data bytes under the cell directories — the at-rest payload
    * size a quantized index shrinks (reported by Bench's ivf block). */
  def cellBytes(spark: SparkSession, path: String): Long = {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(new Path(path, "cells"), true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && !f.getPath.getName.startsWith("_")) total += f.getLen
    }
    total
  }
}
