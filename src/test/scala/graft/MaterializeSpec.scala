package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.Materialize
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The stage cut is one job that evaluates each row once, under both
  * checkpoint kinds — observed or not — and the counted loop cut reads its
  * metric off that job, with no probe job of its own.
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
  // The frame's session picks the cut's kind: the shared one cuts locally,
  // a sibling whose checkpoint dir is `dir`.
  private def frame(reliable: Boolean, dir: String) =
    (if (reliable) TestSpark.sibling("spark.graft.checkpoint.dir" -> dir) else spark)
      .range(0, 1000, 1, 4).filter(col("id") % 7 =!= 0).toDF()
  private val expected = (0 until 1000).count(_ % 7 != 0).toLong

  for ((kind, reliable) <- Seq("local" -> false, "reliable" -> true)) {
    test(s"cut of an unobserved frame is one $kind checkpoint job evaluating each row once") {
      SpecIo.withTempDir("cut") { dir =>
        val evals = spark.sparkContext.longAccumulator(s"cut-evals-$kind")
        val touch = udf { (id: Long) => evals.add(1); id }
        val ((cut, n), jobs) = jobsOf {
          val c = Materialize.cut(frame(reliable, dir).select(touch(col("id")).as("id")))
          (c, evals.value.longValue)
        }
        assert(jobs == 1, s"jobs=$jobs")
        assert(n == expected, s"rows evaluated $n times in total")
        assert(cut.count() == expected)
        assert(evals.value == expected, "reading the cut re-ran its lineage")
      }
    }

    test(s"cutCounted observes its metric on the $kind checkpoint job") {
      SpecIo.withTempDir("cut") { dir =>
        val ((cut, n), jobs) =
          jobsOf(Materialize.cutCounted(frame(reliable, dir), count(lit(1))))
        assert(n == expected)
        assert(jobs == 1, s"jobs=$jobs")
        assert(cut.count() == expected)
      }
    }
  }
}
