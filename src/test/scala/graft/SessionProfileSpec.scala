package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from [[SessionProfile]] and carries
  * [[GraftExtensions]], and the profile gives [[Bench]] exactly the
  * settings it always ran with plus the extensions.
  */
class SessionProfileSpec extends AnyFunSuite {

  private val profileFile = "src/main/scala/graft/SessionProfile.scala"
  private val materializeFile = "src/main/scala/graft/ops/Materialize.scala"

  // Each token and the only src/main files it may appear in: the profile
  // builds sessions and names their extensions, and the checkpoint-dir key
  // is set there and read by the one stage cut alone.
  private val owners = Seq(
    "SparkSession.builder()" -> Set(profileFile),
    "withExtensions" -> Set(profileFile),
    "spark.sql.extensions" -> Set(profileFile),
    "spark.graft.checkpoint.dir" -> Set(profileFile, materializeFile))

  test("src/main builds sessions and adds extensions only inside the profile") {
    val stream = Files.walk(Paths.get("src/main/scala"))
    val sources: Seq[Path] =
      try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    assert(Seq(profileFile, materializeFile).forall(f => sources.exists(_.toString == f)))
    val outside = for {
      p <- sources
      text = new String(Files.readAllBytes(p), "UTF-8")
      (token, allowed) <- owners if !allowed(p.toString) && text.contains(token)
    } yield s"$p: $token"
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("Bench's conf is the literal list it set before the profile existed") {
    // Bench: SessionProfile.session(cpus, shufflePartitions, Some(<tmp>/graft-ckpt-bench))
    // with cpus = SPARK_GRAFT_CPUS (default 32) and shufflePartitions =
    // SPARK_GRAFT_SHUFFLE_PARTITIONS (default cpus).
    val ckpt = s"${sys.props("java.io.tmpdir")}/graft-ckpt-bench"
    assert(SessionProfile.conf("32", "32", Some(ckpt)) == Seq(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.graft.checkpoint.dir" -> ckpt,
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))
    // A scale run raises only the shuffle side; no dir, no checkpoint keys.
    assert(SessionProfile.conf("4", "256", Some(ckpt)).toMap.filter(_._2 == "256").keySet ==
      Set("spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum"))
    assert(!SessionProfile.conf("4", "4").exists(_._1.contains("checkpoint")))
  }

  test("every session on the profile's context carries GraftExtensions") {
    val shared = TestSpark.spark
    for (s <- Seq(shared, shared.newSession()))
      assert(s.sessionState.planner.strategies
        .exists(_.isInstanceOf[graft.plans.TopKPlan.Strategy]),
        "session lacks the native top-k strategy")
    // the injected SQL functions resolve with no registration call
    assert(shared.sql("SELECT dot_product(array(1.0D,2.0D), array(3.0D,4.0D))")
      .head().getDouble(0) == 11.0)
  }
}
