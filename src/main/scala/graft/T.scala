package graft

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias,
  UnresolvedWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for the query inventory (SURVEY.md §2).
  *
  * Determinism contract (SURVEY.md §2 preamble): every query ends with a
  * total ordering; money/quantity doubles are cast to DECIMAL(18,2) BEFORE
  * aggregation (values are exact 2dp in the fixtures — verified, FIXTURES.md);
  * averages are expressed as exact-decimal-sum cast to double divided by a
  * count (one IEEE op, identical in Spark and DuckDB).
  */
object T {
  /** Read a fixture table: one parquet per table under the sf dir.
    *
    * `events.parquet` has shipped with two physical encodings of `ts`
    * across fixture generations: INT64 TIMESTAMP(NANOS) — which Spark 4
    * rejects outright (PARQUET_TYPE_ILLEGAL) unless read as raw nanos via
    * the legacy flag and truncated to microseconds — and, since the
    * 2026-08-12 regen, plain TIMESTAMP(MICROS) (arrives as TIMESTAMP_NTZ).
    * Branch on the LOADED type, not an assumption about the file: LongType
    * means the nanos encoding (apply the shim; the DIV-1000 truncation is
    * exactly what DuckDB does reading the same file, so oracle values align
    * bit-for-bit); any timestamp type is already micros (cast to
    * TIMESTAMP_NTZ so downstream sees one stable type either way). The
    * nanosAsLong flag stays set unconditionally — it is a no-op for
    * micros files. */
  def t(s: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(s, s"$dir/events.parquet")
      val ts = raw.schema("ts").dataType match {
        case LongType => expr("cast(timestamp_micros(ts DIV 1000) as timestamp_ntz)")
        case _        => expr("cast(ts as timestamp_ntz)")
      }
      raw.withColumn("ts", ts)
    } else parquet(s, s"$dir/$name.parquet")
  }

  /** SQL text over the fixture tables of `dir`, as a DataFrame, with no
    * session temp view: the session's parser reads `text`, and each
    * single-part relation naming one of `Graft.tables` becomes that table's
    * analyzed [[t]] plan under its own name — in subquery expressions
    * (EXISTS, scalar, LATERAL) and CTE bodies too. `UnresolvedWith` keeps
    * its CTE bodies as inner children, which `transformUpWithSubqueries`
    * does not visit, so they are bound explicitly. The ANALYZED plan is
    * spliced: with the parsed `.logical` one the analyzer resolves each
    * scan again, and builds measured 3–44 ms slower a key at sf0.1 (median
    * of 15). Any other relation, and a CTE named like a
    * fixture table, is an error that names it, never a catalog lookup, so
    * one dir's or one session's views cannot leak into another's key. */
  def sql(s: SparkSession, dir: String, text: String): DataFrame = {
    val plan = GraftSqlBridge.parse(s, text)
    def lower(n: String) = n.toLowerCase(java.util.Locale.ROOT)
    def cteNames(p: LogicalPlan): Seq[String] = (p match {
      case w: UnresolvedWith => w.cteRelations.map(r => lower(r._1))
      case _ => Nil
    }) ++ (p.children ++ p.innerChildren.collect { case c: LogicalPlan => c } ++
      p.subqueries).flatMap(cteNames)
    val ctes = cteNames(plan).toSet
    ctes.find(Graft.tables.contains).foreach { n => throw new IllegalArgumentException(
      s"T.sql: CTE '$n' shadows the fixture table of that name") }
    def bind(p: LogicalPlan): LogicalPlan = p.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map(r =>
          r.copy(_2 = bind(r._2).asInstanceOf[SubqueryAlias])))
      case r: UnresolvedRelation =>
        val n = r.multipartIdentifier match {
          case Seq(one) => lower(one)
          case parts => parts.mkString(".")
        }
        if (Graft.tables.contains(n)) SubqueryAlias(n, t(s, dir, n).queryExecution.analyzed)
        else if (ctes(n)) r
        else throw new IllegalArgumentException(s"T.sql: unknown relation '$n'" +
          s" (only the fixture tables ${Graft.tables.mkString(", ")} are bound)")
    }
    GraftSqlBridge.ofRows(s, bind(plan))
  }

  /** `s.read.parquet(path)`, inferring the schema at most once per JVM for
    * a frozen input. Inference reads a footer in a Spark job, so without
    * this every DataFrame built over a fixture or a staged artifact paid
    * one job. Frozen means a regular local file, keyed by its size and
    * mtime so an in-place rewrite is re-inferred, or a path under a
    * completed [[staged]] dir, which nothing rewrites in this JVM. The key
    * also holds every parquet conf set in the session plus case
    * sensitivity: they change what inference returns (nanosAsLong,
    * inferTimestampNTZ, binaryAsString, ...). A memoized read passes the
    * schema explicitly, so it still gets a fresh relation with fresh
    * expression IDs. Anything else — another dir, a remote URI — is read
    * exactly as `s.read.parquet`. */
  def parquet(s: SparkSession, path: String): DataFrame =
    frozenKey(s, path) match {
      case None => s.read.parquet(path)
      case Some(k) =>
        val known = schemas.get(k)
        if (known != null) s.read.schema(known).parquet(path)
        else {
          val df = s.read.parquet(path)
          schemas.put(k, df.schema)
          df
        }
    }

  /** (absolute path, size, mtime nanos, set parquet confs, caseSensitive) */
  private type SchemaKey = (String, Long, Long, Seq[(String, String)], String)

  private def frozenKey(s: SparkSession, path: String): Option[SchemaKey] = {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    if (new org.apache.hadoop.fs.Path(path).toUri.getScheme != null) return None
    val p = Paths.get(path).toAbsolutePath.normalize
    val staged = stagedDirs.values.asScala.exists(d => p.startsWith(Paths.get(d)))
    if (!staged && !Files.isRegularFile(p)) return None
    scala.util.Try(Files.readAttributes(p,
      classOf[java.nio.file.attribute.BasicFileAttributes])).toOption.map { a =>
      val confs = s.conf.getAll.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
      }.toSeq.sorted
      (p.toString, a.size, a.lastModifiedTime.to(java.util.concurrent.TimeUnit.NANOSECONDS),
        confs, s.conf.get("spark.sql.caseSensitive"))
    }
  }

  private val schemas = new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()

  val dec: DecimalType = DecimalType(18, 2)

  /** Exact decimal sum surfaced as DOUBLE. The sum itself is decimal —
    * order-independent exact cents, partition-count-independent — and the
    * final double cast of that exact value is the same IEEE64 in Spark and
    * DuckDB. DOUBLE (not DECIMAL) in the output schema matters for the
    * driver's hash gate: its oracle-side reader materializes DECIMAL as
    * float64 while the Spark parquet keeps Decimal objects, so any value
    * with trailing zeros ("201565.00" vs "201565.0") hash-mismatches —
    * CORRECTNESS_r02 failed exactly the 16 keys with decimal outputs that
    * hit trailing zeros. No final output column may be DECIMAL. */
  def dsum(c: Column): Column = sum(c.cast(dec)).cast(DoubleType)

  /** Exact average as double: decimal-sum (exact) / count — a single
    * IEEE division of bit-identical operands in both engines. */
  def davg(c: Column): Column = sum(c.cast(dec)).cast(DoubleType) / count(c)

  /** The session's broadcast budget in bytes, or None when broadcasting is
    * disabled (`spark.sql.autoBroadcastJoinThreshold = -1`). For operators
    * that choose broadcast-vs-shuffle from a driver-side size estimate
    * (graph adjacency tables, codebooks): respect the same knob the
    * planner uses instead of pinning a hint. */
  def broadcastBudgetBytes(s: SparkSession): Option[Long] = {
    val v = s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    if (v == "-1" || v == "-1b") None
    else scala.util.Try(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v))
      .toOption.filter(_ > 0L)
  }

  /** Broadcast decision for a relation whose size the driver knows EXACTLY
    * (iterative-graph keep sets / frontiers: `bytes` = counted rows × fixed
    * row width). The session's autoBroadcastJoinThreshold (default 10 MB)
    * prices ESTIMATED sizes with error bars; an exactly-counted node list
    * has none, so it gets its own cap — 128 MB, the conventional upper
    * bound for an executor-resident build side. The r13 ×100 probe showed
    * why the session default is the wrong gate here: at the ×100 fixture
    * the k-core keep set is 2M nodes = 32 MB, and letting it fall past the
    * 10 MB budget dragged the 240M-row edge list through 8 shuffle joins
    * (super-linear wall). Past 128 MB — ≥8M nodes — the fallback to
    * shuffled restriction joins is the right plan and still applies.
    * A session that signals a memory constraint is respected (ADVICE r13):
    * threshold = -1 disables exact broadcasts entirely, and a threshold
    * LOWERED below the 10 MB default becomes the exact cap too — the user
    * lowered it because executors are small, and an exactly-known size
    * doesn't change how much memory the build side costs. Only a session
    * at or above the default gets the 128 MB exact-size cap. Escape hatch:
    * `graft.broadcastExact.capBytes` overrides the cap directly. */
  def broadcastExact(s: SparkSession, bytes: Long): Boolean =
    broadcastBudgetBytes(s) match {
      case None => false
      case Some(budget) =>
        val cap = s.conf.getOption("graft.broadcastExact.capBytes")
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption.filter(_ > 0L))
          .getOrElse(if (budget < (10L << 20)) budget else 128L << 20)
        bytes <= cap
    }

  /** Directed-edge count above which the iterative-graph loops switch
    * generation storage from per-round localCheckpoint (deserialized row
    * cache — fastest at fixture scale) to columnar MEMORY_AND_DISK persist
    * with prompt unpersist (≤2 generations live — the shape that survived
    * the r13 ×100 probe where ~5 live localCheckpoint generations × 240 M
    * rows went GC-bound). 50 M rows ≈ tens of GB deserialized — where the
    * single-JVM storage pool stops paying for row caching. Overridable via
    * session conf `graft.iter.bigRunEdges` so tests can force the persist
    * branch at fixture scale and pin it equal to the checkpoint branch
    * (VERDICT r13 #2: the branch must not be untestable dead code). */
  def bigRunEdgeThreshold(s: SparkSession): Long =
    s.conf.getOption("graft.iter.bigRunEdges")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
      .getOrElse(50000000L)

  /** Engine-portable HALF_UP rounding to 6 dp of an exact NON-NEGATIVE
    * integer rational num/den (den > 0), emitted as DOUBLE: one pure-integer
    * division — q = (2·10⁶·num + den) div (2·den) — then a single IEEE
    * division of that exact integer by 1e6. Bit-identical in every engine and
    * build. This retires the `round(CAST(a AS DOUBLE)/b, 6)` tie class
    * (VERDICT r6 #1: 645/3200 = 0.2015625 is an exact .5 at the 6th decimal;
    * Spark rounds it half-up while some DuckDB builds round the scaled double
    * half-even). `num`/`den` are SQL expression strings over in-scope
    * columns; pre-cast to DECIMAL(38,0) inside them when 2·10⁶·num could
    * exceed LONG range (Spark `div` accepts decimals and returns LONG).
    * DuckDB oracle counterpart:
    *   CAST((2000000*num + den) // (2*den) AS BIGINT) / 1000000.0 */
  /** (k·c + a) mod 2³² as a LONG for NON-NEGATIVE k, overflow-safe at any
    * key magnitude — in pure codegen'd long arithmetic. Key-derived
    * operands at 100 TB scales overflow the naive 64-bit product (the r15
    * full-board ×100 sweep failed 9 keys on exactly this: surrogate keys
    * ~1e10 × a Knuth constant ~2.7e9 ≈ 2.7e19 > Long.MaxValue under ANSI).
    * The first fix ran the product in DECIMAL(38,0); that was exact but
    * left Spark's BigDecimal path in per-row hot loops and cost 2.5–21× on
    * consumer keys whose hash evaluates per row × per resample
    * (stat_permutation_test 20×, stat_bootstrap_ci 6.5× — the r15 hash-
    * repricing note in BASELINE.md). This version splits the multiply at
    * 16 bits: with km = k mod 2³² (valid because (k·c) mod 2³² depends only
    * on k mod 2³²),
    *   (km·c) mod 2³² = (((km»16)·c mod 2¹⁶)·2¹⁶ + (km&0xFFFF)·c) mod 2³²
    * and every intermediate is < 2⁴⁸ + 2³² — long-safe for any k and any
    * c < 2³², bit-identical to the exact wide product for k ≥ 0. The
    * addend may be data-derived (Column overload) as long as it is
    * non-negative and < ~2⁶² − 2⁴⁸. DuckDB oracle counterpart stays
    * native int128: CAST((CAST(k AS HUGEINT)*c + a) % 4294967296 AS BIGINT). */
  def hash32(k: Column, c: Long, a: Long): Column = hash32(k, c, lit(a))
  def hash32(k: Column, c: Long): Column = hash32(k, c, lit(0L))
  def hash32(k: Column, c: Long, a: Column): Column = {
    val km = k.cast(LongType).bitwiseAND(4294967295L)
    val hi = (shiftright(km, 16) * c).bitwiseAND(65535L) * 65536L
    val lo = km.bitwiseAND(65535L) * c
    (hi + lo + a).bitwiseAND(4294967295L)
  }

  def r6(num: String, den: String): Column =
    // 1000000.0D: the D suffix forces a DOUBLE literal — Spark parses a bare
    // decimal literal as DecimalType, which would make the whole output
    // DECIMAL and trip the driver's no-DECIMAL-output rule (see dsum).
    //
    // Overflow-proof by construction (r11, after the sf1 probe tripped the
    // 2·10⁶ multiply on a revenue-cent numerator): num and den are cast to
    // DECIMAL(38,0) INSIDE, so the ×2e6 and ×2 internal multiplies can
    // never cross LONG no matter the call site — DuckDB's `//` runs on
    // HUGEINT and always had this headroom. Values are identical (exact
    // integer math either way; Spark `div` accepts decimals, returns LONG).
    // A call site whose num/den STRING itself multiplies two data-sized
    // longs must still pre-cast inside that product — the cast here
    // happens after the string's own arithmetic.
    expr(s"((2000000L * cast(($num) as decimal(38,0)) + ($den))" +
      s" div (2L * cast(($den) as decimal(38,0)))) / 1000000.0D")

  /** Sign-aware variant of [[r6]] for rationals that may be negative:
    * HALF_UP = away-from-zero, so round |num|/den and restore the sign.
    * Both engines divide only non-negative integers, sidestepping any
    * truncate-vs-floor ambiguity in integral division. DuckDB counterpart:
    *   (CASE WHEN num < 0 THEN -1 ELSE 1 END) *
    *     CAST((2000000*abs(num) + den) // (2*den) AS BIGINT) / 1000000.0 */
  def r6s(num: String, den: String): Column =
    // same DECIMAL(38,0) interior as r6 (abs before the cast keeps the
    // CASE's sign test on the original expression)
    expr(s"(CASE WHEN ($num) < 0 THEN -1L ELSE 1L END) * " +
      s"((2000000L * cast(abs($num) as decimal(38,0)) + ($den))" +
      s" div (2L * cast(($den) as decimal(38,0)))) / 1000000.0D")

  /** One query definition: key, DataFrame builder, optional DuckDB oracle. */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  def q(name: String, oracle: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle.stripMargin.trim))

  /** A key whose one program is its oracle text, run by both engines:
    * Spark through [[sql]], DuckDB as the oracle. */
  def sqlKey(name: String, oracle: String): Q = {
    val text = oracle.stripMargin.trim
    Q(name, (s, dir) => sql(s, dir, text), Some(text))
  }

  /** Non-SQL-expressible op: driver records a rows-only check. */
  def qNoOracle(name: String)(fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None)

  /** Temp dir with recursive delete at JVM exit — staging/warehouse dirs
    * created per query invocation must not leak across repeated Verify/Bench
    * runs (ADVICE r2). */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    cleanupAtExit.synchronized { cleanupAtExit += p.toString }
    p.toString
  }

  /** This JVM's classpath with every entry ABSOLUTE — the form
    * `spark.executor.extraClassPath` needs under local-cluster: executor
    * processes run with cwd under $SPARK_HOME/work, so a relative
    * `target/scala-2.13/classes` silently drops the app classes from the
    * executor loader and every graft lambda/typed-aggregator/custom
    * operator fails task-side with SerializedLambda ClassCastExceptions
    * (only the keys needing app classes on executors — the r16
    * multi-tenant probe's multi-JVM run found it; pure-Catalyst keys mask
    * it). */
  def absClassPath: String =
    sys.props("java.class.path").split(java.io.File.pathSeparator)
      .map(p => new java.io.File(p).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)

  /** `v` with `digits` decimals and a '.' separator whatever the default
    * locale: a plain `f"%.2f"` prints "1,50" under a German JVM, which is
    * not a JSON number. */
  def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Wait, at most `timeoutMs`, until `read` returns the same value on
    * `quietPolls` polls in a row, `pollMs` apart; true if it settled. The
    * listener bus is asynchronous and its drain call is private[spark], so
    * a listener's counters are read this way before a key's figures are
    * taken. At the deadline it returns false rather than block; the
    * caller reports that. */
  def settle[A](timeoutMs: Long, pollMs: Long = 50L, quietPolls: Int = 2)
               (read: => A): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var prev = read
    var quiet = 0
    while (quiet < quietPolls) {
      if (System.nanoTime() >= deadline) return false
      Thread.sleep(pollMs)
      val cur = read
      if (cur == prev) quiet += 1 else { quiet = 0; prev = cur }
    }
    true
  }

  /** Stage a derived dataset once per (tag, sfDir) per JVM: the first call
    * creates the dir and runs `write`; later calls reuse the staged output
    * instead of re-materializing (ADVICE r2 — eager side effects at
    * DataFrame-construction time re-staged on every Verify/Bench call).
    * REENTRANT (r15): a staging `write` may itself stage another tag
    * (shingle_df stages on top of the shingle index) — the former
    * computeIfAbsent implementation threw IllegalStateException on that
    * nesting whenever the inner artifact wasn't already staged, i.e. in
    * any fresh JVM whose first caller was the outer artifact. */
  def staged(tag: String, sfDir: String)(write: String => Unit): String = {
    val key = s"$tag|$sfDir"
    val existing = stagedDirs.get(key)
    if (existing != null) return existing
    stageLock.synchronized { // re-entrant: nested staging stays legal
      val again = stagedDirs.get(key)
      if (again != null) return again
      val dir = tempDir(s"graft_${tag}_")
      // Attribute build time to the STAGING account, depth-aware so a
      // nested stage (shingle_df on top of shingle) isn't double-counted:
      // only the outermost frame adds its wall to stagingNanos. Bench
      // samples this counter around each key to split "first consumer
      // pays the shared artifact" out of the key's own query time
      // (VERDICT r15 "What's wrong" #2 — in-run tops read as regressions).
      val t0 = System.nanoTime()
      stageDepth += 1
      try write(dir) finally {
        stageDepth -= 1
        if (stageDepth == 0) stagingNanos.addAndGet(System.nanoTime() - t0)
      }
      stagedDirs.put(key, dir)
      dir
    }
  }

  /** Cumulative wall nanos spent building staged artifacts in this JVM
    * (driver-side; staged() runs under stageLock so a plain var suffices
    * for the depth). */
  val stagingNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private var stageDepth = 0

  private val stageLock = new Object

  private val stagedDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val cleanupAtExit = {
    val dirs = new scala.collection.mutable.ArrayBuffer[String]()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      dirs.synchronized(dirs.foreach { d =>
        try {
          import java.nio.file._
          import scala.jdk.CollectionConverters._
          Files.walk(Paths.get(d)).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(p => Files.deleteIfExists(p))
        } catch { case _: Throwable => }
      })))
    dirs
  }
}
