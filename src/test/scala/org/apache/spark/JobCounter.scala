package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs one block of code launches from the calling
  * thread (jobs carry the thread's local properties, so concurrent work
  * from other threads is not counted). Lives in `org.apache.spark` for
  * the listener bus drain, which Spark keeps package-private. */
final class JobCounter(sc: SparkContext) {
  private val Key = "graft.test.jobcounter"
  private val counts = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { tag =>
        counts.computeIfAbsent(tag, _ => new AtomicInteger()).incrementAndGet()
      }
  })

  /** `body`'s result and the number of jobs it launched. */
  def apply[T](body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    val r = try body finally sc.setLocalProperty(Key, prev)
    sc.listenerBus.waitUntilEmpty()
    (r, Option(counts.remove(tag)).map(_.get).getOrElse(0))
  }
}
