package e2ebench

import org.apache.spark.sql.SparkSession

/** One session for every spec in the JVM, over the small sf0.01 tables. */
object TestSession {
  lazy val spark: SparkSession = {
    new java.io.File(sys.props("java.io.tmpdir")).mkdirs()
    Main.session()
  }

  val smokeData: String = new java.io.File("data/sf0.01").getAbsolutePath

  def ctx(traced: Boolean, digests: Map[String, Expect] = smokeDigests): Ctx = {
    val session = spark // creates the tmpdir the work dir goes under
    val work = java.nio.file.Files.createTempDirectory("e2ebench-work").toString
    Ctx(session, new Trace(Some(spark.sparkContext), traced), smokeData, work,
      seed = 7L, seconds = 10, digests)
  }

  lazy val smokeDigests: Map[String, Expect] = Digest.load("digests.json", "sf0.01")
}
