package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Building a key must leave the session's temp views as they were: a
  * user who ran `Graft.registerTables(s, B)` and then builds any key on
  * dir A still reads B through `lineitem`, `customer`, ... . Keys whose
  * text names a fixture table bind it through `T.sql`, not through a view.
  * Only the three keys that are about views register any, by design and
  * under names of their own: the catalog lineage and view-dependency
  * extractors and the SQL macro. */
class TempViewSpec extends AnyFunSuite {
  private val byDesign = Set("catalog_column_lineage", "catalog_view_dependencies",
    "udf_sql_macro")

  test("building every key leaves the session's temp views unchanged") {
    val u = TestSpark.spark.newSession()
    // the user's dir B: the same fixture files under another path, so a
    // view repointed at the build dir shows as changed input files
    val userDir = T.tempDir("graft_views_")
    Graft.tables.foreach { t =>
      Files.createSymbolicLink(Paths.get(userDir, s"$t.parquet"),
        Paths.get(TestSpark.sf, s"$t.parquet").toAbsolutePath)
    }
    Graft.registerTables(u, userDir)
    def views: Map[String, Set[String]] =
      u.catalog.listTables().collect().filter(_.isTemporary)
        .map(v => v.name -> u.table(v.name).inputFiles.toSet).toMap
    val before = views
    assert(before.keySet == Graft.tables.toSet)
    assert(before.values.forall(_.forall(_.contains(userDir))))
    val changed = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => byDesign(name) }
      .flatMap { case (name, fn) =>
        fn(u, TestSpark.sf)
        val now = views
        if (now == before) None
        else {
          val diff = (now.keySet ++ before.keySet).filter(v => now.get(v) != before.get(v))
          // restore, so each key is judged on its own
          diff.foreach(u.catalog.dropTempView)
          Graft.registerTables(u, userDir)
          Some(s"$name: ${diff.toSeq.sorted.mkString(",")}")
        }
      }
    assert(changed.isEmpty,
      s"keys that changed the session's temp views: ${changed.mkString("; ")}")
  }
}
