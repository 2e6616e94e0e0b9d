package graft

import java.util.concurrent.{Callable, Executors}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{RamCheckpointFileManager, StreamingOps}

/** Checkpoint hygiene of the streaming-gate harness: the durable
  * opt-out leaves no checkpoint directory behind, and the RAM manager
  * keeps the create-if-absent arbitration of the CheckpointFileManager
  * contract. */
class GateCheckpointSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get(4)

  test("a gate query under the durable checkpoint manager leaves no directory behind") {
    // the durable manager: a plain session clone, no RAM manager class
    val ss = spark.newSession()
    import ss.implicits._
    implicit val sq = ss.sqlContext
    val source = MemoryStream[Int]
    val ckpt = StreamingOps.gateCkptDir()
    val query = source.toDF().writeStream.format("memory")
      .queryName(s"graft_ckpt_${java.util.UUID.randomUUID().toString.replace("-", "")}")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      source.addData(1, 2, 3)
      query.processAllAvailable()
    } finally query.stop()
    val dir = new java.io.File(ckpt)
    assert(dir.exists(), "premise: Spark keeps an explicit checkpoint location")
    StreamingOps.releaseGateCkpt(ss, ckpt)
    assert(!dir.exists(), s"gate checkpoint $ckpt leaked on disk")
  }

  test("RAM createAtomic without overwrite: exactly one writer of a path commits") {
    val root = s"/graft_ram_ckpt_${java.util.UUID.randomUUID()}"
    val fm = new RamCheckpointFileManager(new Path(root), new Configuration())
    val file = new Path(s"$root/offsets/0")
    try {
      val first = fm.createAtomic(file, overwriteIfPossible = false)
      val second = fm.createAtomic(file, overwriteIfPossible = false)
      first.write(1); second.write(2)
      first.close()
      intercept[FileAlreadyExistsException](second.close())
      assert(fm.open(file).read() == 1, "the losing writer must not replace the file")
      // concurrent racers: one commit, every other close fails
      val pool = Executors.newFixedThreadPool(8)
      try {
        val raced = new Path(s"$root/commits/0")
        val outcomes = (0 until 8).map { i =>
          val out = fm.createAtomic(raced, overwriteIfPossible = false)
          out.write(i)
          pool.submit(new Callable[Boolean] {
            def call(): Boolean =
              try { out.close(); true }
              catch { case _: FileAlreadyExistsException => false }
          })
        }.map(_.get())
        assert(outcomes.count(identity) == 1, s"commits: $outcomes")
      } finally pool.shutdown()
      // overwriting creates still replace
      val over = fm.createAtomic(file, overwriteIfPossible = true)
      over.write(9); over.close()
      assert(fm.open(file).read() == 9)
    } finally RamCheckpointFileManager.drop(root)
  }
}
