package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** T.parquet infers a frozen input's schema once per JVM: the memoized
  * read must equal a plain `s.read.parquet`, launch no job, and never
  * serve a schema the input or the session's parquet confs no longer
  * give. */
class ParquetMemoSpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  /** Spark jobs `body` launches on this thread. A sentinel job in its own
    * group runs after `body`; the listener bus is ordered, so once the
    * sentinel is seen every job of `body` has been counted. */
  private def jobsOf(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"parquet-memo-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val sentinel = new AtomicBoolean(false)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => sentinel.set(true)
          case _ =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(T.settle(10000L)((jobs.get(), sentinel.get())), "listener did not settle")
      assert(sentinel.get(), "sentinel job not seen")
      jobs.get()
    } finally sc.removeSparkListener(l)
  }

  private def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  private def tempCopy(table: String): String = {
    val d = T.tempDir("graft_pmemo_")
    val f = s"$d/$table.parquet"
    Files.copy(Paths.get(s"$sf/$table.parquet"), Paths.get(f))
    f
  }

  test("memoized reads equal a plain read for all 10 tables: schema and row hashes") {
    for (table <- Graft.tables) {
      val f = s"$sf/$table.parquet"
      T.t(s, sf, table)
      var memo: DataFrame = null
      assert(jobsOf { memo = T.parquet(s, f) } == 0, table)
      val plain = s.read.parquet(f)
      // StructField equality covers name, type, nullability and metadata
      assert(memo.schema == plain.schema, table)
      assert(fingerprint(memo) == fingerprint(plain), table)
    }
  }

  test("a repeated T.t launches no job; a first read of a fresh copy does") {
    for (table <- Seq("lineitem", "events")) {
      T.t(s, sf, table)
      assert(jobsOf(T.t(s, sf, table)) == 0, table)
    }
    val copy = tempCopy("orders")
    assert(jobsOf(T.parquet(s, copy)) >= 1)
    assert(jobsOf(T.parquet(s, copy)) == 0)
  }

  test("a file rewritten in place is re-inferred") {
    val f = tempCopy("nation")
    assert(T.parquet(s, f).schema == s.read.parquet(s"$sf/nation.parquet").schema)
    Files.copy(Paths.get(s"$sf/region.parquet"), Paths.get(f),
      StandardCopyOption.REPLACE_EXISTING)
    val after = T.parquet(s, f)
    assert(after.schema == s.read.parquet(s"$sf/region.parquet").schema)
    assert(after.count() == 5L)
  }

  test("a parquet conf that changes inference is part of the key") {
    val sc = s.newSession()
    val f = s"$sf/events.parquet"
    def ts = T.parquet(sc, f).schema("ts").dataType
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    sc.conf.set(key, "true")
    val ntz = ts
    assert(ntz == sc.read.parquet(f).schema("ts").dataType)
    sc.conf.set(key, "false")
    val ltz = ts
    assert(ltz == sc.read.parquet(f).schema("ts").dataType)
    assert(ntz != ltz, s"$ntz under both settings")
    sc.conf.set(key, "true")
    assert(ts == ntz)
  }

  test("a dir outside T.staged is re-inferred on every read") {
    val d = T.tempDir("graft_pmemo_dir_")
    s.range(5).write.mode("overwrite").parquet(d)
    assert(jobsOf(T.parquet(s, d)) >= 1)
    assert(jobsOf(T.parquet(s, d)) >= 1)
    s.range(5).selectExpr("cast(id as string) AS v").write.mode("overwrite").parquet(d)
    assert(T.parquet(s, d).schema.fieldNames.toSeq == Seq("v"))
  }

  test("a completed T.staged dir is memoized; a read inside its staging is not") {
    val tag = s"pmemo_${java.util.UUID.randomUUID()}"
    var inside = -1
    val dir = T.staged(tag, sf) { o =>
      s.range(7).selectExpr("id", "id % 3 AS k").write.mode("overwrite")
        .partitionBy("k").parquet(o)
      inside = jobsOf(T.parquet(s, o))
    }
    assert(inside >= 1)
    val first = T.parquet(s, dir)
    assert(jobsOf(T.parquet(s, dir)) == 0)
    val memo = T.parquet(s, dir)
    assert(memo.schema == first.schema && memo.schema == s.read.parquet(dir).schema)
    assert(fingerprint(memo) == fingerprint(s.read.parquet(dir)))
  }
}
