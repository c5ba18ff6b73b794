package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-probe fixture generator (VERDICT r10 "Next round" #6): writes an
  * N-fold scale-up of a driver fixture dir so the heavy tail of the board
  * can be timed at sf1 and checked for near-linear scaling.
  *
  * Construction — a faithful TPC-H-style ×N, not a naive concat:
  *   - fact/large tables (`customer supplier part orders lineitem events
  *     documents embeddings`) are unioned N times with every key/FK column
  *     shifted by `copy * 100_000_000`, so the copies are disjoint but each
  *     FK keeps resolving inside its own copy (joins scale ×N, not ×N²);
  *   - `nation`/`region` stay fixed-cardinality, exactly as TPC-H scales;
  *   - `documents.text` gets a per-copy alphabetic token suffix
  *     (`word` → `wordxa` in copy 1, …): copies carry disjoint vocabularies,
  *     so no cross-copy near-duplicates exist and shingle/minhash/simhash
  *     candidate volume scales ×N instead of ×N² (a verbatim copy would make
  *     every doc a 10-way near-dup and the probe would mis-read blocking
  *     designs as super-linear); `n_chars` is recomputed from the new text;
  *   - `embeddings.embedding` is cyclically rotated by `copy * 7 % dim`
  *     positions: norms and intra-copy cluster structure are preserved while
  *     cross-copy cosine collapses to noise, so LSH/IVF probe volume also
  *     scales ×N;
  *   - `events.ts` keeps the original time span (more events in the same
  *     window — how real traffic scales), with ids/users shifted.
  *
  * usage: runMain graft.GenScale [srcDir] [dstDir] [copies]
  * defaults: /root/testdata/sf0.1 /tmp/graft_sf1 10
  */
object GenScale {
  private val Off = 100000000L

  /** Base-25 multi-letter copy-salt letters over a..w,y,z — PURELY
    * alphabetic (alpha-only tokenizers keep the "x"+suffix attached to its
    * word; the historical single-char 'a'+i form left the letter range at
    * copy 27) AND 'x'-free, so 'x' appears ONLY as the word/suffix
    * separator: a salted token decomposes uniquely at its LAST 'x', making
    * cross-copy vocabularies disjoint for ANY copy count (the base-26
    * form collided once a suffix digit could be 'x' — "fox"+"xa" ==
    * "fo"+"xxa" at copy 598; ADVICE r13). Shared with Sweep.MinHash's
    * in-memory ×N corpus. */
  private[graft] def letterSuffix(k: Int): String = {
    val digits = "abcdefghijklmnopqrstuvwyz" // 25 letters, no 'x'
    val sb = new StringBuilder
    var v = k
    do { sb.append(digits(v % 25)); v /= 25 } while (v > 0)
    sb.reverse.toString()
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val n = if (args.length > 2) args(2).toInt else 10
    val spark = Graft.session("genscale")
    spark.sparkContext.setLogLevel("WARN")

    def copies(name: String, parts: Int)(tx: (DataFrame, Int) => DataFrame): Unit = {
      val base = T.t(spark, src, name)
      val out = (0 until n).map(i => tx(base, i)).reduce(_ unionAll _)
      out.repartition(parts)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"GENSCALE $name x$n -> $dst/$name.parquet")
    }
    def shift(d: DataFrame, i: Int, cols: String*): DataFrame =
      cols.foldLeft(d)((acc, c) => acc.withColumn(c, col(c) + lit(i * Off)))

    // fixed-cardinality dims: copy through unchanged
    Seq("region", "nation").foreach { name =>
      T.t(spark, src, name).coalesce(1)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"GENSCALE $name (dim, x1) -> $dst/$name.parquet")
    }
    copies("customer", 4)((d, i) => shift(d, i, "c_custkey"))
    copies("supplier", 1)((d, i) => shift(d, i, "s_suppkey"))
    copies("part", 4)((d, i) => shift(d, i, "p_partkey"))
    copies("orders", 16)((d, i) => shift(d, i, "o_orderkey", "o_custkey"))
    copies("lineitem", 32)((d, i) =>
      shift(d, i, "l_orderkey", "l_partkey", "l_suppkey"))
    copies("events", 16)((d, i) => shift(d, i, "event_id", "user_id"))
    copies("documents", 8) { (d, i) =>
      val salted =
        if (i == 0) d
        else {
          val suf = "x" + letterSuffix(i - 1)
          d.withColumn("text",
            regexp_replace(col("text"), "([A-Za-z0-9]+)", "$1" + suf))
        }
      shift(salted, i, "doc_id")
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies("embeddings", 4) { (d, i) =>
      val dim = d.select(size(col("embedding"))).head.getInt(0)
      val k = (i * 7) % dim
      val rolled =
        if (k == 0) d
        else d.withColumn("embedding",
          concat(expr(s"slice(embedding, ${k + 1}, ${dim - k})"),
                 expr(s"slice(embedding, 1, $k)")))
      shift(rolled, i, "vec_id")
    }
    println(s"GENSCALE done: $dst (x$n of $src)")
    spark.stop()
  }
}
