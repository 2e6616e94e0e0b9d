package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{PlanCache, SparkEntry}
import graft.operators.{GraphAnn, IvfIndex, NswIndex}
import graft.sources.Sinks
import graft.streaming.IncrementalTick

import Main._

/** `sweep`: registered queries, each built and collected once, in seeded
  * order, in a fresh JVM with empty scratch. Set-up is the session plus a
  * fixed set of warm-up queries outside the measured set, which takes the
  * engine's first-query costs off whichever queries the seed puts first. */
object Sweep {
  val Packs: Seq[(String, graft.queries.QueryPack)] = Seq(
    "RelationalQueries" -> graft.queries.RelationalQueries,
    "TimeSeriesFrameQueries" -> graft.queries.TimeSeriesFrameQueries,
    "RecursiveKernelQueries" -> graft.queries.RecursiveKernelQueries,
    "TextQueries" -> graft.queries.TextQueries,
    "TextAnalysisQueries" -> graft.queries.TextAnalysisQueries,
    "VectorQueries" -> graft.queries.VectorQueries,
    "DedupQueries" -> graft.queries.DedupQueries,
    "ScorerQueries" -> graft.queries.ScorerQueries,
    "FirKernelQueries" -> graft.queries.FirKernelQueries,
    "PipelineQueries" -> graft.queries.PipelineQueries,
    "StreamingQueries" -> graft.queries.StreamingQueries,
    "MultimodalQueries" -> graft.queries.MultimodalQueries)

  def run(p: Params, out: Out, tr: Trace): SparkSession = {
    val data = p.str("data")
    val packOf = Packs.flatMap { case (n, pk) => pk.queries.map(_.name -> n) }.toMap
    val listed = p.str("sweep_queries").split(",").toSeq
    // one_per_pack: only the first listed query of each pack
    val names = if (p.opt("one_per_pack").contains("1")) {
      val seen = mutable.Set[String]()
      listed.filter(n => seen.add(packOf.getOrElse(n, "unknown")))
    } else listed
    val (spark, _) = setUp(p, out, tr)((_, _) => ((), 0L)) { (s, _) =>
      nanos(p.str("sweep_warmup").split(",").filter(_.nonEmpty).foreach(n =>
        tr("queries.warmup", "warmup")(SparkEntry.queries(n)(s, data).collect())))._2
    }
    val oracle = SparkEntry.oracleSql
    val results = mutable.ArrayBuffer[(String, Array[Row], StructType)]()
    var buildNs, planNs, execNs = 0L
    val packNs = mutable.Map[String, Long]()
    names.foreach { name =>
      val pack = packOf.getOrElse(name, "unknown")
      val t0 = System.nanoTime()
      val res = Try(tr(s"queries.$pack", name) {
        val df = tr("queries.build", name)(SparkEntry.queries(name)(spark, data))
        val t1 = System.nanoTime()
        if (tr.on) tr("queries.plan", name)(df.queryExecution.executedPlan)
        val t2 = System.nanoTime()
        val rows = tr("queries.exec", name)(df.collect())
        val t3 = System.nanoTime()
        buildNs += t1 - t0; planNs += t2 - t1; execNs += t3 - t2
        (rows, df.schema)
      })
      val ns = System.nanoTime() - t0
      packNs(pack) = packNs.getOrElse(pack, 0L) + ns
      out.op("query", name, ns, res.isSuccess, res.failed.map(_.getClass.getSimpleName).getOrElse(""), name)
      res.foreach { case (rows, schema) => results += ((name, rows, schema)) }
    }
    out.results(spark, results.toSeq.map { case (n, rows, schema) =>
      (n, rows, schema, oracle.get(n))
    })
    out.layer("queries.build_s", buildNs / 1e9)
    out.layer("queries.plan_s", planNs / 1e9)
    out.layer("queries.exec_s", execNs / 1e9)
    // only the packs a query ran in: a pack without one has no figure
    Packs.map(_._1).filter(packNs.contains).foreach(k => out.layer(s"queries.$k.s", packNs(k) / 1e9))
    spark
  }
}

/** Resident int8 IVF and layered int8 NSW indexes over the seeded corpus;
  * the IVF cells are the generator's cluster centers. */
final case class Indexes(ivf: String, nsw: String)

object Indexes {
  val CentSchema = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("cvec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def build(spark: SparkSession, p: Params, tr: Trace, rep: Int,
      corpus: DataFrame, builds: mutable.Map[String, mutable.ArrayBuffer[Double]]): (Indexes, Long) = {
    val base = s"${p.str("scratch")}/idx/rep$rep"
    val idx = Indexes(s"$base/ivf", s"$base/nsw")
    val cents = spark.createDataFrame(
      Inputs.vectors(p, "centers.f64").zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }
        .toSeq.asJava, CentSchema)
    val (_, ivfNs) = nanos(tr("IvfIndex.buildIfAbsent", s"setup$rep")(
      IvfIndex.buildIfAbsent(corpus, cents, idx.ivf, quantize = true)))
    val (_, nswNs) = nanos(tr("NswIndex.buildIfAbsent", s"setup$rep")(
      NswIndex.buildIfAbsent(corpus, "vec_id", "embedding", idx.nsw,
        GraphAnn.Params(layered = true), numShards = p.int("cores"), quantize = true)))
    builds.getOrElseUpdate("IvfIndex", mutable.ArrayBuffer()) += ivfNs / 1e9
    builds.getOrElseUpdate("NswIndex", mutable.ArrayBuffer()) += nswNs / 1e9
    (idx, ivfNs + nswNs)
  }

  def nswSearch(spark: SparkSession, p: Params, idx: Indexes, q: Array[Double]): Array[Long] =
    NswIndex.searchTopK(spark, idx.nsw, q.toSeq, k = 10, efSearch = p.int("ef_search"))
      .collect().map(_.getLong(0))

  def ivfSearch(spark: SparkSession, p: Params, idx: Indexes, q: Array[Double]): Array[Long] =
    IvfIndex.searchTopK(spark, idx.ivf, q.toSeq, p.int("nprobe"), 10)
      .collect().map(_.getLong(0))

  /** Space and probe-volume layers, read after the timed region. */
  def report(spark: SparkSession, p: Params, out: Out, idx: Indexes,
      qs: Seq[Array[Double]], builds: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    out.layer("operators.IvfIndex.build_s", med(builds("IvfIndex").toSeq))
    out.layer("operators.NswIndex.build_s", med(builds("NswIndex").toSeq))
    out.layer("operators.IvfIndex.cell_bytes", IvfIndex.cellBytes(spark, idx.ivf).toDouble)
    out.layer("operators.NswIndex.graph_bytes", NswIndex.graphBytes(spark, idx.nsw).toDouble)
    out.layer("operators.NswIndex.resident_bytes", NswIndex.residentBytesFor(idx.nsw).toDouble)
    val probed = qs.take(5).map(q =>
      IvfIndex.probedRows(spark, idx.ivf, q.toSeq, p.int("nprobe")).toDouble)
    out.layer("operators.IvfIndex.probed_rows", probed.sum / math.max(1, probed.size))
  }
}

object Inputs {
  def vectors(p: Params, file: String): Array[Array[Double]] =
    readVectors(s"${p.str("inputs")}/$file", p.int("dim"))

  def ints(p: Params, file: String): Array[Int] = {
    val buf = java.nio.ByteBuffer.wrap(Files.readAllBytes(Paths.get(s"${p.str("inputs")}/$file")))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asIntBuffer()
    Array.fill(buf.remaining)(buf.get())
  }

  def tsv(p: Params, file: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(s"${p.str("inputs")}/$file")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  def corpus(p: Params): Seq[(Long, Int, Array[Double])] = {
    val v = vectors(p, "corpus.f64"); val l = ints(p, "labels.i32")
    v.indices.map(i => (i.toLong, l(i), v(i)))
  }
}

/** `serve`: a warm session in steady state serving the dashboard — a
  * seeded mix of dashboard query reads, PlanCache SQL reads and
  * single-query kNN searches — while the hourly ETL cycle runs between
  * blocks of reads: one candle per series through IncrementalTick, a
  * news-sized vector batch appended to both indexes, a read-after-write
  * of the sink and a kNN search on the just-appended indexes. */
object Serve {
  val CandleSchema = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("ts_ns", LongType, nullable = false),
    StructField("user_id", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  final case class Candle(eventId: Long, tsSec: Long, user: Long, value: Double) {
    def row: Row =
      Row(eventId, new java.sql.Timestamp(tsSec * 1000L), tsSec * 1000000000L, user, value)
  }

  def run(p: Params, out: Out, tr: Trace): SparkSession = {
    val data = p.str("data")
    val corpusRows = Inputs.corpus(p)
    val qv = Inputs.vectors(p, "qvecs.f64")
    val adds = Inputs.vectors(p, "appends.f64")
    val addLabels = Inputs.ints(p, "append_labels.i32")
    val sqls = Inputs.tsv(p, "sql.tsv").map(a => a(0) -> a(1)).toMap
    val schedule = Inputs.tsv(p, "schedule.tsv")
    val dashboardQueries = p.str("dashboard_queries").split(",").toSeq
    def candles(f: String) = Inputs.tsv(p, f).map(a =>
      a(0).toInt -> Candle(a(1).toLong, a(2).toLong, a(3).toLong, a(4).toDouble))
    val history = candles("history.tsv").map(_._2)
    val ticks = candles("ticks.tsv").groupBy(_._1).map { case (c, cs) => c -> cs.map(_._2) }
    val cycles = Inputs.tsv(p, "cycles.tsv").map(a => a(0).toInt -> (a(1).toLong, a(2).toInt)).toMap
    val batch = p.int("append_batch")
    val builds = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val times = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def note(k: String, ms: Double): Unit = times.getOrElseUpdate(k, mutable.ArrayBuffer()) += ms
    val expected = mutable.Map[String, String]()
    val pending = mutable.ArrayBuffer[(String, Array[Row], StructType, String)]()
    var sink = ""

    /** One hourly ETL cycle; returns its engine-call nanoseconds. */
    def cycle(spark: SparkSession, idx: Indexes, c: Int, timed: Boolean): Long = {
      val (user, qi) = cycles(c)
      val req = s"cycle$c"
      val tickDf = spark.createDataFrame(ticks(c).map(_.row).asJava, CandleSchema)
      val addDf = vectorDf(spark, (c * batch until (c + 1) * batch).map(j =>
        (corpusRows.size.toLong + j, addLabels(j), adds(j))))
      val fresh = ticks(c).find(_.user == user).get
      def call[T](kind: String, layer: String)(body: => T)(check: T => Boolean): Long = {
        val (res, ns) = nanos(Try(tr(layer, req)(body)))
        if (timed) {
          val detail = res.toOption.collect { case ids: Array[Long] => ids.mkString(",") }
          out.op(kind, s"$c", ns, res.toOption.exists(check), detail.getOrElse(""), req)
          note(kind, ns / 1e6)
        }
        ns
      }
      tr("serve.cycle", req) {
        val probe0 = IncrementalTick.Phases.probeNanos.get
        val app0 = IncrementalTick.Phases.appendNanos.get
        val tickNs = call("tick", "IncrementalTick.processBatch")(
          IncrementalTick.processBatch(spark, tickDf, sink))(_ => true)
        if (timed) {
          note("tick_probe", (IncrementalTick.Phases.probeNanos.get - probe0) / 1e6)
          note("tick_append", (IncrementalTick.Phases.appendNanos.get - app0) / 1e6)
        }
        tickNs +
          call("ivf_append", "IvfIndex.append")(IvfIndex.append(addDf, idx.ivf))(_ => true) +
          call("nsw_append", "NswIndex.append")(
            NswIndex.append(addDf, "vec_id", "embedding", idx.nsw))(_ => true) +
          call("fresh_read", "Sinks.readPartitioned")(
            Sinks.readPartitioned(spark, sink)
              .filter(col("user_id") === user && col("ts_ns") === fresh.tsSec * 1000000000L)
              .select("event_id", "value", "sma30").collect()) { rows =>
            rows.length == 1 && rows(0).getLong(0) == fresh.eventId &&
              rows(0).getDouble(1) == fresh.value
          } +
          call("nsw_fresh", "NswIndex.searchTopK")(Indexes.nswSearch(spark, p, idx, qv(qi)))(_ => true) +
          call("ivf_fresh", "IvfIndex.searchTopK")(Indexes.ivfSearch(spark, p, idx, qv(qi)))(_ => true)
      }
    }

    /** One dashboard read. */
    def read(spark: SparkSession, idx: Indexes, kind: String, arg: String, req: String): Unit =
      kind match {
        case "query" =>
          val (res, ns) = nanos(Try(tr("serve.query", req) {
            val df = tr("SparkEntry.queries", req)(SparkEntry.queries(arg)(spark, data))
            tr("queries.exec", req)(df.collect())
          }))
          out.op("query", arg, ns, res.toOption.exists(r => expected.get(arg).contains(digest(r))),
            req = req)
        case "sql" =>
          val key = s"sql_$arg"
          val fresh = !expected.contains(key)
          var sqlNs = 0L
          val (res, ns) = nanos(Try(tr("serve.sql", req) {
            val (df, planNs) = nanos(tr("PlanCache.sql", req)(PlanCache.sql(spark, sqls(arg), data)))
            sqlNs = planNs
            (tr("queries.exec", req)(df.collect()), df.schema)
          }))
          note(if (fresh) "sql_first" else "sql_repeat", sqlNs / 1e6)
          val ok = res.toOption.exists { case (rows, schema) =>
            if (fresh) {
              expected(key) = digest(rows)
              pending += ((key, rows, schema, sqls(arg)))
            }
            expected(key) == digest(rows)
          }
          out.op("sql", arg, ns, ok, req = req)
        case "nsw" | "ivf" =>
          val q = qv(arg.toInt)
          val (res, ns) = nanos(Try(tr(s"serve.$kind", req) {
            if (kind == "nsw") tr("NswIndex.searchTopK", req)(Indexes.nswSearch(spark, p, idx, q))
            else tr("IvfIndex.searchTopK", req)(Indexes.ivfSearch(spark, p, idx, q))
          }))
          note(kind, ns / 1e6)
          out.op(kind, arg, ns, res.isSuccess, res.toOption.map(_.mkString(",")).getOrElse(""), req)
        case other => sys.error(s"unknown op $other")
      }

    val (spark, idx) = setUp(p, out, tr) { (s, rep) =>
      val corpus = vectorDf(s, corpusRows)
      val histDf = s.createDataFrame(history.map(_.row).asJava, CandleSchema)
      val (idx, buildNs) = Indexes.build(s, p, tr, rep, corpus, builds)
      sink = s"${p.str("scratch")}/sink/rep$rep"
      val (_, seedNs) = nanos(tr("IncrementalTick.processBatch", s"setup$rep")(
        IncrementalTick.processBatch(s, histDf, sink)))
      (idx, buildNs + seedNs)
    } { (s, idx) =>
      // warm-up: every dashboard query and hot SQL text once (their results
      // are the expected ones for later reads), the first search on each
      // index, and the first hourly cycle
      val (_, warmNs) = nanos {
        dashboardQueries.foreach { n =>
          val df = tr("SparkEntry.queries", "warmup")(SparkEntry.queries(n)(s, data))
          val rows = tr("queries.exec", "warmup")(df.collect())
          expected(n) = digest(rows)
          pending += ((n, rows, df.schema, SparkEntry.oracleSql.getOrElse(n, "")))
        }
        p.str("sql_hot").split(",").foreach { id =>
          val df = tr("PlanCache.sql", "warmup")(PlanCache.sql(s, sqls(id), data))
          val rows = tr("queries.exec", "warmup")(df.collect())
          expected(s"sql_$id") = digest(rows)
          pending += ((s"sql_$id", rows, df.schema, sqls(id)))
        }
        tr("NswIndex.searchTopK", "warmup")(Indexes.nswSearch(s, p, idx, qv(0)))
        tr("IvfIndex.searchTopK", "warmup")(Indexes.ivfSearch(s, p, idx, qv(0)))
      }
      warmNs + cycle(s, idx, 0, timed = false)
    }

    // closed loop over the seeded schedule; the deadline is checked only
    // between blocks (a block is a run of reads closed by one cycle), so
    // every run serves the same request mix, and at least `min_blocks`
    val deadline = System.nanoTime() + p.long("seconds") * 1000000000L
    var i = 0
    var lastCycle = 0
    var open = true
    while (i < schedule.size && open) {
      val Array(kind, arg) = schedule(i)
      if (kind == "cycle") {
        lastCycle = arg.toInt
        cycle(spark, idx, lastCycle, timed = true)
        open = lastCycle < p.int("min_blocks") || System.nanoTime() < deadline
      } else read(spark, idx, kind, arg, s"op$i")
      i += 1
    }
    out.results(spark, pending.toSeq.map { case (k, rows, schema, sql) =>
      (k, rows, schema, Some(sql).filter(_.nonEmpty))
    })

    // end-of-run check: the sink equals a batch recompute over every
    // candle fed to it (untimed)
    val fed = history ++ (0 to lastCycle).flatMap(ticks)
    val cycleOf = (0 to lastCycle).flatMap(k => ticks(k).map(_.eventId -> k)).toMap
    val cmp = Seq("sma30", "bb_up", "bb_lo", "buy", "sell")
    val batchDf = IncrementalTick.enrich(
      spark.createDataFrame(fed.map(_.row).asJava, CandleSchema))
      .select((Seq("event_id") ++ cmp).map(col): _*)
    val sinkDf = Sinks.readPartitioned(spark, sink).select((Seq("event_id") ++ cmp).map(col): _*)
    def differs(c: String) =
      if (c == "buy" || c == "sell") not(col(s"s.$c") <=> col(s"b.$c"))
      else (col(s"s.$c").isNull =!= col(s"b.$c").isNull) ||
        coalesce(abs(col(s"s.$c") - col(s"b.$c")) > 1e-9, lit(false))
    val bad = sinkDf.as("s")
      .join(batchDf.as("b"), col("s.event_id") === col("b.event_id"), "full_outer")
      .filter(col("s.event_id").isNull || col("b.event_id").isNull ||
        cmp.map(differs).reduce(_ || _))
      .select(coalesce(col("s.event_id"), col("b.event_id"))).collect().map(_.getLong(0))
    val badCycles = bad.map(e => cycleOf.getOrElse(e, -1)).distinct.sorted
    Files.writeString(Paths.get(s"${p.str("out")}/sink_check.txt"),
      s"${fed.size}\t${badCycles.mkString(",")}\n")

    // a layer with no samples is left out (the run then fails its
    // per-layer check) rather than reported as 0
    def m(layer: String, k: String, scale: Double = 1.0): Unit =
      times.get(k).filter(_.nonEmpty).foreach(v => out.layer(layer, med(v.toSeq) * scale))
    val nFirst = times.getOrElse("sql_first", Nil).size
    val nRepeat = times.getOrElse("sql_repeat", Nil).size
    m("PlanCache.first_ms", "sql_first")
    m("PlanCache.repeat_ms", "sql_repeat")
    if (nFirst + nRepeat > 0)
      out.layer("PlanCache.repeat_share", nRepeat.toDouble / (nFirst + nRepeat))
    m("streaming.IncrementalTick.tick_ms", "tick")
    m("streaming.IncrementalTick.probe_ms", "tick_probe")
    m("streaming.IncrementalTick.append_ms", "tick_append")
    m("sources.Sinks.read_ms", "fresh_read")
    val files = Files.walk(Paths.get(sink)).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
    out.layer("sources.Sinks.files", files.size.toDouble)
    out.layer("sources.Sinks.bytes_per_row", files.map(Files.size).sum.toDouble / math.max(1, fed.size))
    for ((l, kind) <- Seq("NswIndex" -> "nsw", "IvfIndex" -> "ivf")) {
      m(s"operators.$l.search_ms", kind)
      m(s"operators.$l.first_search_ms", s"${kind}_fresh")
      m(s"operators.$l.append_s", s"${kind}_append", 1e-3)
    }
    if (tr.on) Indexes.report(spark, p, out, idx, qv.toSeq, builds)
    spark
  }
}
