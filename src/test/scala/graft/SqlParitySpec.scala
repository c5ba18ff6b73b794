package graft

import org.scalatest.funsuite.AnyFunSuite

/** SURVEY §3.2 entry point 2 (r10 verdict #5): the SQL-text entry path.
  *
  * Every oracle SQL string is fed verbatim to `spark.sql` over temp views of
  * the fixture tables. Three outcomes, each pinned:
  *   - PARITY: the text parses, runs, and its result matches the DataFrame
  *     DSL result (timestamps normalized — the SQL path yields TIMESTAMP
  *     where the DSL's T.t reader yields TIMESTAMP_NTZ). Every key that ran
  *     verbatim at spec-authoring time must keep matching, and the total
  *     must never drop below the recorded floor — this is the drift alarm
  *     for Catalyst dialect changes on upgrade.
  *   - DIALECT-DIVERGENT: the text runs in Spark but computes something
  *     else, for a known cross-dialect reason documented below (DuckDB
  *     `date_part('dow')` numbers Sun=0..Sat=6 vs Spark's Sun=1..Sat=7;
  *     DuckDB `arr[1]` is 1-based vs Spark 0-based). These must KEEP
  *     diverging — if one starts matching, the engine's dialect moved and
  *     the entry deserves a fresh look.
  *   - DIALECT-SKIP: DuckDB-only syntax (`//`, `unnest`, `::` casts,
  *     `list_transform`, `AS MATERIALIZED`, ...) that Spark's parser or
  *     analyzer rejects. No assertion beyond "throws, not wrong-answers".
  *
  * Keys defined by `T.sqlKey` run their oracle text through `T.sql`, so for
  * them PARITY holds by construction: it compares the text under temp views
  * with the same text bound without views. For those keys this spec pins
  * the binder (the same tables, no catalog escape), not a second author;
  * for every key that keeps a DataFrame body it still pins two programs.
  */
class SqlParitySpec extends AnyFunSuite {
  private val s = TestSpark.spark
  private val sf = TestSpark.sf

  // Keys whose oracle SQL RUNS under Spark but is semantically DuckDB:
  //   stat_cohens_h, ts_weekday_hour_matrix — date_part('dow', ts):
  //     DuckDB Sunday=0..Saturday=6; Spark Sunday=1..Saturday=7, so the
  //     weekend predicate selects different days.
  //   vector_centroid_per_label — embedding[i]: DuckDB lists are 1-based,
  //     Spark arrays 0-based, so the centroid components shift.
  private val dialectDivergent = Set(
    "stat_cohens_h", "ts_weekday_hour_matrix", "vector_centroid_per_label")

  // Floor on verbatim-parity coverage, recorded at authoring (r11,
  // sf0.001): 153 of 429 oracle strings are ANSI enough to run unchanged.
  private val parityFloor = 150

  private def norm(v: Any): String = v match {
    case null => "NULL"
    case t: java.sql.Timestamp => t.toLocalDateTime.toString
    case t: java.time.LocalDateTime => t.toString
    case t: java.time.Instant =>
      java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC).toString
    case a: scala.collection.Seq[_] => a.map(norm).mkString("[", ",", "]")
    case other => String.valueOf(other)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): (Seq[String], Seq[String]) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq.map(norm).mkString("|")).sorted.toSeq
    (cols.map(_.toLowerCase), rows)
  }

  test("oracle SQL texts: verbatim spark.sql parity where ANSI, divergence where dialect") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      T.t(s, sf, t).createOrReplaceTempView(t)
    var parity = 0
    val wrong = Seq.newBuilder[String]
    val healed = Seq.newBuilder[String]
    SparkEntry.oracleSql.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val viaSql =
        try Some(rowsOf(s.sql(sql)))
        catch { case _: Throwable => None } // dialect-skip
      viaSql.foreach { case (sqlCols, sqlRows) =>
        val (dslCols, dslRows) = rowsOf(SparkEntry.queries(name)(s, sf))
        val matches = sqlCols == dslCols && sqlRows == dslRows
        if (dialectDivergent(name)) {
          if (matches) healed += name
        } else if (matches) parity += 1
        else wrong += s"$name (sql=${sqlRows.length} rows, dsl=${dslRows.length} rows)"
      }
    }
    assert(wrong.result().isEmpty,
      s"oracle SQL ran under spark.sql but mismatched the DSL: ${wrong.result().mkString("; ")}")
    assert(healed.result().isEmpty,
      s"documented dialect-divergent keys now MATCH under Spark — dialect moved, re-triage: ${healed.result().mkString(", ")}")
    assert(parity >= parityFloor,
      s"verbatim SQL parity coverage dropped: $parity < floor $parityFloor")
  }
}
