package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import com.sun.management.GarbageCollectionNotificationInfo

import graft.GraftSession

/** JVM side of the benchmark. perfbench/run.py generates the inputs from
  * the seed, starts this with a params file, and afterwards checks the
  * outputs and turns the raw timings into metrics.
  *
  * The engine is driven only through its public calls (GraftSession.get,
  * SparkEntry.queries, PlanCache.sql, IvfIndex/NswIndex build, append and
  * search, IncrementalTick.processBatch, Sinks.readPartitioned); every
  * timer sits at the boundary of one of those calls.
  *
  * Files written to `out`:
  *  - ops.tsv     kind, key, ms, ok, request id, detail — one line per timed operation
  *  - setup.tsv   seconds of each set-up repetition and of the warm-up
  *  - layers.tsv  per-layer values (traced run)
  *  - spans.jsonl one span per traced call (traced run)
  *  - res/        results the oracle checks, as parquet, with their SQL
  */
object Main {

  final class Params(m: Map[String, String]) {
    def str(k: String): String = m.getOrElse(k, sys.error(s"missing param $k"))
    def int(k: String): Int = str(k).toInt
    def long(k: String): Long = str(k).toLong
    def opt(k: String): Option[String] = m.get(k)
  }

  def params(file: String): Params = new Params(
    scala.io.Source.fromFile(file).getLines()
      .filter(_.contains("=")).map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap)

  final class Out(dir: String) {
    new File(s"$dir/res").mkdirs()
    private val ops = new PrintWriter(s"$dir/ops.tsv")
    private val setups = new PrintWriter(s"$dir/setup.tsv")
    val layers = mutable.LinkedHashMap[String, Double]()

    def op(kind: String, key: String, ns: Long, ok: Boolean, detail: String = "",
        req: String = ""): Unit =
      ops.println(s"$kind\t$key\t${ns / 1e6}\t${if (ok) 1 else 0}\t$req\t$detail")
    def setup(kind: String, sec: Double): Unit = setups.println(s"$kind\t$sec")
    def layer(name: String, v: Double): Unit = layers(name) = v

    /** Persist collected results, with their oracle SQL, for the oracle
      * check (untimed; four writers at a time). */
    def results(spark: SparkSession,
        rs: Seq[(String, Array[Row], StructType, Option[String])]): Unit = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        rs.map { case (key, rows, schema, oracle) =>
          pool.submit(new Runnable {
            def run(): Unit = {
              spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
                .write.mode("overwrite").parquet(s"$dir/res/$key")
              oracle.foreach(sql => Files.writeString(Paths.get(s"$dir/res/$key.sql"), sql))
            }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
    }

    def close(): Unit = {
      ops.close(); setups.close()
      val lw = new PrintWriter(s"$dir/layers.tsv")
      layers.foreach { case (k, v) => lw.println(s"$k\t$v") }
      lw.close()
    }

    def spans(tr: Trace): Unit = {
      val counts = tr.counts()
      val sw = new PrintWriter(s"$dir/spans.jsonl")
      tr.recorded.foreach { s =>
        val c = counts.getOrElse(s.id, Counts())
        val nm = s.name.replace("\"", "'")
        sw.println(
          s"""{"id":${s.id},"name":"$nm","req":"${s.req}","parent":${s.parent},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"gc_ms":${s.gcMs},""" +
          s""""jobs":${c.jobs},"tasks":${c.tasks},"single_task_jobs":${c.singleTaskJobs},""" +
          s""""shuffle_write_bytes":${c.shuffleWriteBytes},"spill_bytes":${c.spillBytes}}""")
      }
      sw.close()
    }
  }

  def nanos[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }

  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def readVectors(path: String, dim: Int): Array[Array[Double]] = {
    val buf = ByteBuffer.wrap(Files.readAllBytes(Paths.get(path)))
      .order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer()
    Array.fill(buf.remaining / dim) { val a = new Array[Double](dim); buf.get(a); a }
  }

  val VecSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def vectorDf(spark: SparkSession, vecs: Seq[(Long, Int, Array[Double])]): DataFrame =
    spark.createDataFrame(
      vecs.map { case (id, l, v) => Row(id, l, v.toSeq) }.asJava, VecSchema)

  /** Peak live heap while it runs: the highest heap use right after a
    * collection (summed over the heap pools), from the collectors'
    * notifications, so it does not follow how full the young generation
    * happens to be. Without a collection it is the heap in use at
    * [[stop]], an upper bound. Notifications arrive on one JVM thread,
    * the only writer of `peak`. */
  final class HeapPeak {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile private var peak = 0L
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak = math.max(peak, live)
        }
    }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(listener, null, null))

    def stop(): Double = {
      emitters.foreach(_.removeNotificationListener(listener))
      (if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
    }
  }

  def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Set up `setup_reps` times, each in a new session, and keep the last;
    * then warm the last one up once. `body` does the workload's own
    * set-up calls on the session and returns its state plus the
    * nanoseconds those calls took (input preparation inside `body` is not
    * counted); `warm` returns the nanoseconds of its warm-up calls. */
  def setUp[S](p: Params, out: Out, tr: Trace)(body: (SparkSession, Int) => (S, Long))(
      warm: (SparkSession, S) => Long): (SparkSession, S) = {
    var spark: SparkSession = null
    var state: Option[S] = None
    val gets = mutable.ArrayBuffer[Double]()
    val heap = if (tr.on) Some(new HeapPeak) else None
    for (rep <- 0 until p.int("setup_reps")) {
      if (spark != null) spark.stop()
      val (s, getNs) = nanos(tr("GraftSession.get", s"setup$rep")(GraftSession.get(p.int("cores"))))
      spark = s
      tr.attach(spark.sparkContext)
      spark.conf.set("spark.graft.ivfIndexDir", s"${p.str("scratch")}/ivf/rep$rep")
      val (st, ns) = body(spark, rep)
      state = Some(st)
      gets += getNs / 1e9
      out.setup("rep", (getNs + ns) / 1e9)
    }
    out.layer("GraftSession.get_s", med(gets.toSeq))
    out.setup("warm", warm(spark, state.get) / 1e9)
    heap.foreach(h => out.layer("GraftSession.heap_peak_mb", h.stop()))
    (spark, state.get)
  }

  def run(p: Params, out: Out, tr: Trace): SparkSession = p.str("workload") match {
    case "sweep" => Sweep.run(p, out, tr)
    case "serve" => Serve.run(p, out, tr)
    case w => sys.error(s"unknown workload $w")
  }

  def main(args: Array[String]): Unit = {
    val p = params(args(0))
    val out = new Out(p.str("out"))
    val tr = new Trace(p.int("trace") == 1)
    var spark = run(p, out, tr)
    if (tr.on) {
      // traced run only, after the timed region: the other workload, for
      // the layers this one does not reach, and the functions probe
      p.opt("probe").foreach { f =>
        val pp = params(f)
        val probeOut = new Out(pp.str("out"))
        tr.prefix = "probe:"
        spark = run(pp, probeOut, tr)
        tr.prefix = ""
        probeOut.close()
      }
      Functions.probe(spark, p, out)
      out.spans(tr)
    }
    out.close()
    spark.stop()
  }
}
