package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (Test/fork := true ⇒ one JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    // local[4, 4]: 4 threads, task-failure budget 4 — identical to
    // local[4] unless a task actually fails; RetrySpec needs the budget
    // so injected first-attempt failures RETRY instead of killing the job.
    // spark.sql.extensions is the library extension point under test
    // (CoreSpec): graft functions resolve in any session derived from this
    // config, no register() call.
    val s = Graft.session("graft-test", 4, Some("local[4,4]"), Map(
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      "spark.sql.streaming.checkpointLocation" ->
        java.nio.file.Files.createTempDirectory("graft_ckpt_").toString))
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
