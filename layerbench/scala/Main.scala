package layerbench

import graft.SparkEntry

/** Benchmark JVM entry point, launched by layerbench/run.py.
  *
  * Flags (all `--name value`):
  *   --workload  name recorded in the output
  *   --keys      comma-separated SparkEntry.queries keys
  *   --script    optional SQL script file run through Exec.runScript each pass
  *   --script-tables  tables the script leaves behind, fingerprinted at the end
  *   --action    noop | parquet (per-pass fresh directory)
  *   --seed --warm-passes --trace 0|1 --sf <fixture dir> --out <output dir>
  *   --commit --dump <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val entered = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String): String = a.getOrElse(k, d)
    val conf = Conf(
      workload = get("workload", "adhoc"), seed = get("seed", "1").toLong,
      warmPasses = get("warm-passes", "3").toInt, trace = get("trace", "0") == "1",
      sfDir = a("sf"), outDir = a("out"), action = get("action", "noop"),
      commit = get("commit", "unknown"), dumpDir = a.get("dump"))
    val board = SparkEntry.queries
    val keys = get("keys", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val missing = keys.filterNot(board.contains)
    require(missing.isEmpty, s"unknown keys: ${missing.mkString(",")}")
    val script = a.get("script").map { p =>
      ScriptItem("exec_load_script",
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"),
        get("script-tables", "").split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    val items = keys.map(k => KeyItem(k, board(k))) ++ script.toSeq
    require(items.nonEmpty, "no keys given")

    val r = new Runner(conf, items)
    r.setup(entered)
    val failed = r.measure()
    r.checkOutputs(r.lastPass)
    conf.dumpDir.foreach { d =>
      val oracle = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
      java.nio.file.Files.write(java.nio.file.Paths.get(d, "oracle_sql.json"),
        Json.value(oracle).getBytes("UTF-8"))
    }
    r.writeOut()
    r.spark.stop()
    System.err.println(s"[layerbench] done, failed operations: $failed")
  }
}
