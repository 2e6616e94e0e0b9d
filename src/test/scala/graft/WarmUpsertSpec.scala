package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.JobCounter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphAnnProbe, IvfIndex, NswIndex}
import graft.operators.GraphAnn.Params

/** Warm upserts: a build or an append leaves the persisted indexes
  * WARM. NSW builds and appends publish the shard graphs they link into
  * the resident cache under a per-publish id, so the first search after
  * either is a beam walk over resident graphs; IVF appends never move
  * centroids, so the centroid table and probe lists survive them. Pins:
  * job counts of the first search (Spark listener), row parity of the
  * write-through graphs with a cold reload and with a full rebuild,
  * failure isolation of an append, rebuild and rebalance invalidation,
  * the IVF append's file fan-out, and the beam-state release of graphs
  * used only for linking. */
class WarmUpsertSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get(4)
  private lazy val jobs = new JobCounter(spark.sparkContext)
  private lazy val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private val dim = 16
  private val n = 2400L
  private val cut = 2000L

  private def corpus(from: Long, until: Long): DataFrame = {
    def centerCol(d: Int) =
      sin((col("id") % 20).cast("double") * (2.17 + d) + lit(d * 0.91))
    spark.range(from, until).select(
      col("id").as("vec_id"),
      array((0 until dim).map(d =>
        centerCol(d) + sin(col("id").cast("double") * (5.3 + d)) * 0.15): _*)
        .as("embedding"))
  }

  private val queries: Seq[(Long, Seq[Double])] = (0 until 3).map { qi =>
    qi.toLong -> (0 until dim).map(d => math.sin((7.0 + qi) * (2.17 + d) + d * 0.91)).toSeq
  }

  private def freshPath(tag: String): String =
    Files.createTempDirectory(s"graft_warm_$tag").toString + "/idx"

  /** flat raw, layered raw, layered int8 (the serving config) */
  private val variants: Seq[(String, Params, Boolean)] = Seq(
    ("flat", Params(), false),
    ("layered", Params(layered = true), false),
    ("int8", Params(layered = true), true))

  private def build(e: DataFrame, path: String, p: Params, quant: Boolean): Unit =
    NswIndex.buildIfAbsent(e, "vec_id", "embedding", path, p, numShards = 4,
      quantize = quant)

  private def searchRows(path: String): Seq[Seq[Any]] =
    NswIndex.searchShards(spark, path, queries, kPerShard = 5)
      .orderBy("qid", "vec_id").collect().map(_.toSeq).toSeq

  private def topK(path: String, q: Seq[Double]): Seq[(Long, Double)] =
    NswIndex.searchTopK(spark, path, q, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def marker(path: String, name: String): String = {
    val in = fs.open(new Path(path, name))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("first NSW search after a build or an append runs no more jobs than a warm search") {
    for ((tag, p, quant) <- variants) {
      val path = freshPath(s"jobs_$tag")
      build(corpus(0, cut), path, p, quant)
      assert(NswIndex.residentBytesFor(path) > 0,
        s"$tag: the build must leave its shard graphs resident")
      val q = queries.head._2
      val (_, first) = jobs(topK(path, q))
      val (_, warm) = jobs(topK(path, q))
      assert(first <= warm, s"$tag: first search after build ran $first jobs, warm $warm")
      NswIndex.append(corpus(cut, n), "vec_id", "embedding", path)
      val (_, afterAppend) = jobs(topK(path, q))
      assert(afterAppend <= warm,
        s"$tag: first search after append ran $afterAppend jobs, warm $warm")
    }
  }

  test("write-through graphs serve the rows of a cold reload and of a full rebuild") {
    for ((tag, p, quant) <- variants) {
      val grown = freshPath(s"parity_$tag")
      build(corpus(0, cut), grown, p, quant)
      NswIndex.append(corpus(cut, n), "vec_id", "embedding", grown)
      val warmRows = searchRows(grown)
      val warmBytes = NswIndex.residentBytesFor(grown)
      NswIndex.evictServed(grown)
      assert(NswIndex.residentBytesFor(grown) == 0L)
      val coldRows = searchRows(grown)
      assert(warmRows == coldRows, s"$tag: write-through serve != cold reload")
      // one version resident, charged exactly what a cold load charges
      assert(warmBytes == NswIndex.residentBytesFor(grown),
        s"$tag: resident ledger after append $warmBytes != cold load " +
          s"${NswIndex.residentBytesFor(grown)}")
      val full = freshPath(s"parity_full_$tag")
      build(corpus(0, n), full, p, quant)
      assert(searchRows(full) == warmRows,
        s"$tag: appended serve != full rebuild of the grown corpus")
    }
  }

  private def graphRows(path: String): Seq[String] =
    spark.read.parquet(s"$path/graph").collect().map(_.toString).toSeq.sorted

  test("an append to a non-resident index writes the graph a resident one writes") {
    // the old nodes come from the shard files instead of the resident
    // graphs; the persisted rows must not tell the two apart
    for ((tag, p, quant) <- variants) {
      val warm = freshPath(s"src_warm_$tag")
      val cold = freshPath(s"src_cold_$tag")
      val base = corpus(0, n).filter(col("vec_id") % 5 =!= 2)
      build(base, warm, p, quant)
      build(base, cold, p, quant)
      NswIndex.evictServed(cold)
      val batch = corpus(0, n).filter(col("vec_id") % 5 === 2)
      NswIndex.append(batch, "vec_id", "embedding", warm)
      NswIndex.append(batch, "vec_id", "embedding", cold)
      assert(graphRows(warm) == graphRows(cold), s"$tag: append source changed the graph")
    }
  }

  test("interleaved-id append: the write-through graph walks like a cold reload") {
    // ids interleave, so insertion order (old, then new) is not vec_id
    // order and the servable copy is genuinely re-based
    for ((tag, p, quant) <- variants) {
      val path = freshPath(s"inter_$tag")
      build(corpus(0, n).filter(col("vec_id") % 3 =!= 1), path, p, quant)
      NswIndex.append(corpus(0, n).filter(col("vec_id") % 3 === 1),
        "vec_id", "embedding", path)
      val warmRows = searchRows(path)
      NswIndex.evictServed(path)
      assert(searchRows(path) == warmRows,
        s"$tag: interleaved write-through serve != cold reload")
    }
  }

  test("an append whose graph-insert job fails leaves searches on the pre-append graphs") {
    val path = freshPath("fail")
    build(corpus(0, cut), path, Params(layered = true), quant = true)
    val q = queries.head._2
    val before = topK(path, q)
    val bytes = NswIndex.residentBytesFor(path)
    val stamp = marker(path, "_GRAPH_READY")
    val pub = marker(path, "_GRAPH_PUB")
    // a 4-d vector in a 16-d index: the insert beam fails inside the
    // graph-insert job, after the batch census
    import spark.implicits._
    val bad = Seq((n + 5, Seq(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "embedding")
    intercept[Exception] {
      NswIndex.append(bad, "vec_id", "embedding", path)
    }
    assert(marker(path, "_GRAPH_READY") == stamp && marker(path, "_GRAPH_PUB") == pub,
      "a failed append must not publish")
    assert(NswIndex.residentBytesFor(path) == bytes,
      "the failed attempt's graphs must leave the cache, ledger exact")
    val (after, n1) = jobs(topK(path, q))
    val (_, warm) = jobs(topK(path, q))
    assert(after == before)
    assert(n1 <= warm, s"search after the failed append ran $n1 jobs, warm $warm")
  }

  test("same-count delete+rebuild of an int8 index serves the fresh build") {
    val path = freshPath("rebuild")
    val p = Params(layered = true)
    build(corpus(0, cut), path, p, quant = true)
    topK(path, queries.head._2)
    val shifted = corpus(0, cut).select(col("vec_id"),
      transform(col("embedding"), v => v + lit(0.25)).as("embedding"))
    fs.delete(new Path(path), true)
    build(shifted, path, p, quant = true)
    val served = searchRows(path)
    val bytes = NswIndex.residentBytesFor(path)
    val cold = freshPath("rebuild_cold")
    build(shifted, cold, p, quant = true)
    NswIndex.evictServed(cold)
    assert(served == searchRows(cold),
      "post-rebuild serve must walk the fresh graphs, not the deleted build's")
    assert(bytes == NswIndex.residentBytesFor(cold),
      "only the fresh build may stay resident")
  }

  test("graphs used only for linking release their beam state") {
    val vs = Array.tabulate(300, 8)((i, d) => math.sin(i * 0.37 + d * 1.3))
    for (layered <- Seq(false, true)) {
      val nsw = GraphAnnProbe.build(vs, layered)
      val made = GraphAnnProbe.beamStatesMade(nsw)
      assert(made >= 1)
      // the build released its state, so this thread's first search
      // allocates a fresh one, and later searches reuse it
      GraphAnnProbe.search(nsw, vs(0), 10)
      assert(GraphAnnProbe.beamStatesMade(nsw) == made + 1)
      GraphAnnProbe.search(nsw, vs(1), 10)
      assert(GraphAnnProbe.beamStatesMade(nsw) == made + 1)
    }
  }

  // ---- IVF

  private val ivfDim = 8

  private def basis(i: Int, scale: Double = 1.0): Array[Double] = {
    val a = Array.fill(ivfDim)(0.0); a(i) = scale; a
  }

  private def add(a: Array[Double], b: Array[Double]): Seq[Double] =
    a.zip(b).map { case (x, y) => x + y }.toSeq

  private def ivfRows(from: Long, until: Long): Seq[(Long, String, Seq[Double])] =
    (from until until).map { i =>
      (i, "a", add(basis((i % 4).toInt), basis(4 + (i % 3).toInt, 0.01 * (i % 7))))
    }

  private def ivfCorpus(from: Long, until: Long, parts: Int = 1): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(ivfRows(from, until), parts)
      .toDF("vec_id", "label", "embedding")
  }

  private def cents4(): DataFrame = {
    import spark.implicits._
    (0 until 4).map(i => (i.toLong, basis(i).toSeq)).toDF("cent_id", "cvec")
  }

  private def ivfSearch(path: String, q: Seq[Double], nprobe: Int = 1): Seq[Long] =
    IvfIndex.searchTopK(spark, path, q, nprobe, 5).collect().map(_.getLong(0)).toSeq

  test("first IVF search after an append runs no centroid re-read or persist job") {
    val path = freshPath("ivf_jobs")
    IvfIndex.buildIfAbsent(ivfCorpus(0, 400), cents4(), path, quantize = true)
    val q1 = add(basis(0), basis(5, 0.02))
    ivfSearch(path, q1) // centroid table resident, q1's probes memoized
    val everyRow = IvfIndex.probedRows(spark, path, q1, nprobe = 4)
    val (_, warmRepeat) = jobs(ivfSearch(path, q1))
    val (_, warmNew) = jobs(ivfSearch(path, add(basis(1), basis(5, 0.02))))
    IvfIndex.append(ivfCorpus(400, 455, parts = 4), path)
    val (_, repeatAfter) = jobs(ivfSearch(path, q1))
    assert(repeatAfter <= warmRepeat,
      s"memoized-probe search after append ran $repeatAfter jobs, warm $warmRepeat")
    val (_, newAfter) = jobs(ivfSearch(path, add(basis(2), basis(5, 0.02))))
    assert(newAfter <= warmNew,
      s"new-query search after append ran $newAfter jobs, warm $warmNew")
    // the cells relation WAS re-resolved: the appended rows are scanned
    assert(IvfIndex.probedRows(spark, path, q1, nprobe = 4) == everyRow + 55)
  }

  test("an IVF rebalance still invalidates the centroid and probe caches") {
    import spark.implicits._
    val path = freshPath("ivf_rebal")
    // 500 rows in cell 0, split on the sign of e4; 100 over e1..e3
    val rows = (0L until 600L).map { i =>
      val v =
        if (i < 500) add(basis(0), basis(4, if (i % 2 == 0) 0.3 else -0.3))
        else add(basis(1 + (i % 3).toInt), basis(5, 0.01 * (i % 7)))
      (i, "a", v)
    }
    IvfIndex.buildIfAbsent(rows.toDF("vec_id", "label", "embedding"), cents4(), path)
    val qPlus = add(basis(0), basis(4, 0.3))
    val qMinus = add(basis(0), basis(4, -0.3))
    // warm both probe lists and the centroid table on the 4-cell geometry
    ivfSearch(path, qPlus); ivfSearch(path, qMinus)
    assert(IvfIndex.rebalance(spark, path, oversizeFactor = 2.0) == 1)
    val cellOf = spark.read.parquet(s"$path/cells").select("vec_id", "cent_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the subcluster that moved to the new child cell 4
    val moved = if (cellOf(0L) == 4) 0.3 else -0.3
    val qMoved = add(basis(0), basis(4, moved))
    assert(ivfSearch(path, qMoved).forall(cellOf(_) == 4),
      "a memoized probe list must not survive the rebalance")
    // a never-searched query probes the NEW centroid table
    val qNew = add(basis(0), basis(4, moved * 1.1))
    assert(ivfSearch(path, qNew).forall(cellOf(_) == 4),
      "the resident centroid table must not survive the rebalance")
  }

  test("one IVF append adds at most one file per touched cell") {
    val path = freshPath("ivf_files")
    IvfIndex.buildIfAbsent(ivfCorpus(0, 400), cents4(), path, quantize = true)
    def filesPerCell(): Map[String, Int] =
      fs.listStatus(new Path(path, "cells")).filter(_.isDirectory).map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }.toMap
    val before = filesPerCell()
    // 55 vectors over all four cells, from a 4-partition input
    IvfIndex.append(ivfCorpus(400, 455, parts = 4), path)
    val after = filesPerCell()
    assert(after.keySet == before.keySet)
    after.foreach { case (cell, k) =>
      assert(k - before(cell) == 1, s"$cell gained ${k - before(cell)} files")
    }
  }
}
