package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Materialize
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The counted loop seam reads its metric off the checkpoint job itself:
  * exact under both checkpoint kinds, with no probe job of its own.
  */
class MaterializeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jobsOf[A](body: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      org.apache.spark.TestBus.drain(spark.sparkContext)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // 1000 ids over 4 partitions, every 7th one dropped: 857 rows survive.
  private def frame = spark.range(0, 1000, 1, 4).filter(col("id") % 7 =!= 0).toDF()
  private val expected = (0 until 1000).count(_ % 7 != 0).toLong

  for ((kind, reliable) <- Seq("local" -> false, "reliable" -> true))
    test(s"cutCounted observes its metric on the $kind checkpoint job") {
      SpecIo.withTempDir("seam-cut") { dir =>
        val seam = Materialize.seam(spark, if (reliable) Some(dir) else None)
        val ((cut, n), jobs) = jobsOf(seam.cutCounted(frame, count(lit(1))))
        assert(n == expected)
        assert(jobs == 1, s"jobs=$jobs")
        assert(cut.count() == expected)
      }
    }
}
