package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Minimal Kusto CSL front end covering the reference's published query
  * shapes — its shipped test file posts `OmyaData | take 100` and
  * `TelemetryData | count` to `POST /query` (reference
  * `tests/test.http:49,62`, proxied at `src/main.go:88-116,247`) — plus
  * the operators an ADX user reaches next: `where` (incl. `in`/`!in`
  * literal lists, inclusive `between (lo .. hi)`, and bare boolean
  * terms like `isempty(x)`) / `project` / `project-away` /
  * `project-keep` / `project-rename` / `extend` (full scalar
  * expression grammar) / `summarize` (count/sum/avg/min/max/dcount,
  * conditional countif/sumif/minif/maxif/dcountif, arg_max/arg_min,
  * exact percentile, stdev/variance, make_list/make_set, with `by`
  * keys including `bin(...)`) / `top` / `distinct` / `sort by` /
  * `limit` / `join` / `lookup` (broadcast dimension join) /
  * `mv-expand` / `mv-apply` (per-row subquery over an expanded array;
  * row-wise stages only) / `parse` / `union` (outer/inner column
  * alignment) / `make-series` (the ADX time-series materializer) /
  * `top-nested` (hierarchical drill-down) / `top-hitters` (exact, ADX
  * `approximate_*` column contract) / `evaluate pivot` (value-set
  * columns, ADX group-column rules) / `getschema` (plan-time schema
  * introspection, a LocalRelation) / `serialize` with the
  * serialized-window family (`row_number()` / `prev()` / `next()` /
  * `row_cumsum()` / run-based `row_rank_dense()` / `row_rank_min()`) /
  * the DYNAMIC tier (`todynamic()` + dot/bracket
  * path access compiled to JSON-path extraction — see `dynPath`) / the
  * `range` table generator / `search` (cross-column term match) / the
  * series multi-assign extends (`extend (…) = series_stats(col)` and
  * `series_fit_line(col)`) — plus `let` statements (scalar constants
  * and tabular sub-pipelines, the CSL analog of CTEs), `has`/`has_cs`/
  * `has_any`/`has_all`
  * whole-term matching with the negated string-operator family, and a
  * scalar function library (iff/case/strcat/substring/extract/split/
  * conversions/date parts/null tests, plus tier 5: `datetime_diff`
  * over all eight parts / `dayofweek` / `make_datetime` /
  * `unixtime_*_todatetime` / `hash_md5`+`hash_sha256` / ADX-order
  * `translate` / `isfinite`+`isinf` / sorted-distinct `set_union`/
  * `set_intersect`/`set_difference` / general `dynamic([...])` array
  * literals — see [[Translator.parseFnCall]]).
  *
  * TEMPORAL tier (the queries the reference's hour-partitioned layout
  * exists to serve, `/root/reference/README.md:5`): `datetime(...)`
  * literals, timespan literals (`1h`, `5m`, `30s`, `1d`, `250ms`),
  * `now()`, `ago(1h)`, and `bin(ts, 1h)` — so the canonical ADX
  * telemetry query `T | where ts > ago(1h) | summarize count() by
  * bin(ts, 5m)` translates. `bin` on a timespan floors the timestamp
  * onto the grid with exact epoch-µs integer arithmetic (`u - pmod(u,
  * width)`), which Catalyst folds into the scan-adjacent projection;
  * `bin` on a number is the numeric floor `x - pmod(x, n)`.
  *
  * Translation is to a Spark [[DataFrame]], never to SQL text: a CSL
  * pipeline is already a linear logical plan (table, then a chain of
  * operators), so each stage maps 1:1 onto a DataFrame transform and
  * Catalyst sees exactly the plan the query describes — `where` becomes a
  * pushable Filter, `project` a pruning Project, `take` a CollectLimit,
  * `join`'s right side a full sub-pipeline (its own scan + transforms)
  * that the optimizer is free to broadcast. There is no interpreter in
  * the data path, so a translated query scales identically to its
  * hand-written DataFrame twin.
  *
  * ADX semantics preserved here:
  *   - `count` emits one row with the ADX column name `Count`.
  *   - `sort by` defaults to DESCENDING (ADX default), `asc` to override.
  *   - `contains` / `startswith` / `endswith` are case-INsensitive;
  *     `_cs` variants are case-sensitive — matching ADX's operator table.
  *   - `take` and `limit` are synonyms, `order by` aliases `sort by`.
  *   - `join` defaults to ADX's `innerunique` (left side deduplicated on
  *     the keys before an inner join); keys merge using-join style, so
  *     the key column appears once (ADX keeps a suffixed right copy —
  *     the one deliberate divergence, Spark-first column hygiene).
  *   - `summarize ... by bin(ts, w)` names the key after the binned
  *     column, as ADX does.
  *   - `mv-expand` drops rows whose array is null/empty (ADX default).
  *   - `parse` is `kind=simple`: literals must match from the start;
  *     captured columns are strings, empty on no-match.
  *
  * Everything expressible here is read-only by construction — the
  * gateway's query route leans on that to keep CSL inside the
  * reference's query-only contract.
  */
object Kql {

  /** Shape test for dialect dispatch at the gateway: a CSL query is a
    * bare table identifier optionally followed by `| stage` pipes. No
    * SQL statement begins with a bare non-keyword identifier, so a text
    * matching this shape cannot be valid SQL and the dispatch is
    * unambiguous (and vice versa: `SELECT ...` never matches).
    */
  def looksLikeCsl(text: String): Boolean =
    try {
      tokenize(text) match {
        case Vector(TIdent(t)) =>
          !sqlStarters(t.toLowerCase(java.util.Locale.ROOT))
        case TIdent(t) +: TSym("|") +: _ =>
          !sqlStarters(t.toLowerCase(java.util.Locale.ROOT))
        // `let name = ...;` can only open a CSL statement list — no SQL
        // statement starts with the bare word `let`
        case TIdent("let") +: TIdent(_) +: TSym("=") +: _ => true
        // the `range x from ... to ... step ...` table generator
        case TIdent("range") +: TIdent(_) +: TIdent("from") +: _ => true
        // a `datatable(col: type, ...)[...]` literal source
        case TIdent("datatable") +: TSym("(") +: _ => true
        // `print x = expr, ...` — the ADX one-row evaluator
        case TIdent("print") +: _ => true
        case _ => false
      }
    } catch { case _: IllegalArgumentException => false }

  /** Translate a CSL pipeline to a DataFrame over the session catalog.
    * Throws IllegalArgumentException with a position-free message on any
    * construct outside the supported subset (the gateway surfaces it as
    * an HTTP 400, like the reference's proxied ADX errors).
    */
  def translate(s: SparkSession, text: String): DataFrame =
    translate(s, text, None)

  /** [[translate]] with an injectable `now` instant: `now()` and
    * `ago(...)` evaluate against it instead of `current_timestamp()`,
    * making temporal queries deterministic for tests and replays.
    */
  def translate(s: SparkSession, text: String,
      now: Option[java.time.Instant]): DataFrame = {
    // statement list: zero or more `let name = ...;` bindings, then the
    // query pipeline. Split on depth-0 ';' (a trailing ';' is tolerated).
    val stmts0 = splitStatements(tokenize(text))
    val stmts = if (stmts0.length > 1 && stmts0.last.isEmpty) stmts0.init else stmts0
    if (stmts.exists(_.isEmpty)) fail("empty statement")
    val tr = new Translator(s, now)
    stmts.init.foreach(tr.defineLet)
    tr.pipeline(splitPipes(stmts.last))
  }

  private def splitStatements(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val parts = Vector.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var depth = 0
    toks.foreach {
      case TSym(";") if depth == 0 =>
        parts += cur.result(); cur = Vector.newBuilder[Tok]
      case t =>
        t match {
          case TSym("(") => depth += 1
          case TSym(")") => depth -= 1
          case _ => ()
        }
        cur += t
    }
    parts += cur.result()
    parts.result()
  }

  // SQL statement-leading keywords: a pipeline can't start with these, a
  // SQL text always does — the dispatch hinge for looksLikeCsl
  private val sqlStarters = Set(
    "select", "with", "values", "table", "from", "explain", "describe",
    "desc", "show", "set", "reset", "use", "insert", "update", "delete",
    "merge", "create", "drop", "alter", "truncate", "cache", "uncache",
    "refresh", "analyze", "grant", "revoke", "msck", "load", "declare",
    "begin", "commit", "rollback", "start", "call", "optimize", "vacuum")

  // ------------------------------------------------------------ tokens

  private sealed trait Tok
  private final case class TIdent(v: String) extends Tok
  private final case class TNum(v: String) extends Tok
  private final case class TStr(v: String) extends Tok
  private final case class TSym(v: String) extends Tok
  /** Timespan literal (`1h`, `30s`, `250ms`), normalized to epoch-µs. */
  private final case class TSpan(us: Long) extends Tok
  /** `datetime(...)` literal, normalized to epoch-µs UTC. */
  private final case class TDate(us: Long) extends Tok

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"CSL: $msg")

  private val twoCharSyms = Set("==", "!=", "<=", ">=", "<>", "=~", "!~", "=>")

  // ADX timespan suffixes → µs per unit (d/h/m/s/ms subset)
  private val spanUnits = Map(
    "d" -> 86400000000L, "h" -> 3600000000L, "m" -> 60000000L,
    "s" -> 1000000L, "ms" -> 1000L)

  // yyyy-MM-dd[ |T HH:mm[:ss[.fraction]]][Z] — the ADX datetime() forms
  private val dtRe =
    """(\d{4})-(\d{2})-(\d{2})(?:[ T](\d{2}):(\d{2})(?::(\d{2})(?:\.(\d{1,7}))?)?)?Z?""".r

  /** `datetime(...)` body → epoch-µs UTC, or a clear 400 on any form
    * outside the documented grammar (bad month/day values surface from
    * java.time with the same IllegalArgumentException contract).
    */
  private def datetimeMicros(raw: String): Long = {
    val body = raw.trim.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'")
    body match {
      case dtRe(y, mo, d, h, mi, se, frac) =>
        try {
          val ldt = java.time.LocalDateTime.of(y.toInt, mo.toInt, d.toInt,
            Option(h).map(_.toInt).getOrElse(0),
            Option(mi).map(_.toInt).getOrElse(0),
            Option(se).map(_.toInt).getOrElse(0))
          // fraction is left-aligned decimal; keep µs, drop the 100 ns digit
          val fracUs = Option(frac)
            .map(f => f.padTo(6, '0').take(6).toLong).getOrElse(0L)
          ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + fracUs
        } catch {
          case e: java.time.DateTimeException =>
            fail(s"invalid datetime '$body': ${e.getMessage}")
        }
      case _ =>
        fail(s"unsupported datetime literal '$body' " +
          "(use datetime(yyyy-MM-dd[ HH:mm:ss[.f]]))")
    }
  }

  private def tokenize(text: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = text.length
    var i = 0
    // '-' before a digit is a numeric sign only in unary position (start
    // of expression or after an operator); after an ident/number/')' it
    // is the arithmetic/`project-away` symbol
    var prev: Option[Tok] = None
    def emit(t: Tok): Unit = { out += t; prev = Some(t) }
    def unaryCtx: Boolean = prev match {
      case None => true
      case Some(TSym(")")) => false
      case Some(TSym(_)) => true
      case _ => false
    }
    while (i < n) {
      val c = text(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        val j = i
        while (i < n && (text(i).isLetterOrDigit || text(i) == '_')) i += 1
        val word = text.substring(j, i)
        // datetime(...) lexes as ONE literal token: its body ('-', ':',
        // spaces) would otherwise shatter into arithmetic symbols
        if (word == "datetime" && i < n && text(i) == '(') {
          val close = text.indexOf(')', i + 1)
          if (close < 0) fail("unterminated datetime literal")
          val body = text.substring(i + 1, close)
          i = close + 1
          emit(TDate(datetimeMicros(body)))
        } else emit(TIdent(word))
      } else if (c.isDigit ||
          (c == '-' && i + 1 < n && text(i + 1).isDigit && unaryCtx)) {
        val j = i
        i += 1
        // at most one decimal point, and only digit-adjacent — so the
        // between-range `1..5` lexes as 1, '.', '.', 5, not "1..5"
        var seenDot = false
        while (i < n && (text(i).isDigit ||
            (text(i) == '.' && !seenDot && i + 1 < n && text(i + 1).isDigit))) {
          if (text(i) == '.') seenDot = true
          i += 1
        }
        val num = text.substring(j, i)
        // a unit suffix glued to the number is a timespan literal (1h,
        // 30s, 250ms); any other letter run here is malformed anyway
        val uj = i
        while (i < n && text(i).isLetter) i += 1
        val unit = text.substring(uj, i)
        if (unit.isEmpty) emit(TNum(num))
        else spanUnits.get(unit) match {
          case Some(usPer) => emit(TSpan(math.round(num.toDouble * usPer)))
          case None => fail(s"unknown timespan unit '$unit' in '$num$unit'")
        }
      } else if (c == '"' || c == '\'') {
        val q = c
        val sb = new StringBuilder
        i += 1
        while (i < n && text(i) != q) {
          if (text(i) == '\\' && i + 1 < n) { sb += text(i + 1); i += 2 }
          else { sb += text(i); i += 1 }
        }
        if (i >= n) fail("unterminated string literal")
        i += 1
        emit(TStr(sb.toString))
      } else {
        val two = if (i + 1 < n) text.substring(i, i + 2) else ""
        if (twoCharSyms(two)) { emit(TSym(two)); i += 2 }
        else if ("|(),<>=!+-*/%.;[]:{}~$".indexOf(c) >= 0) { emit(TSym(c.toString)); i += 1 }
        else fail(s"unexpected character '$c'")
      }
    }
    out.result()
  }

  // top-level split only: '|' inside string literals is already consumed
  // by the tokenizer, and '|' inside parens belongs to a join's
  // sub-pipeline, so only depth-0 TSym("|") is a stage boundary
  private def splitPipes(toks: Vector[Tok]): Vector[Vector[Tok]] = {
    val stages = Vector.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var depth = 0
    toks.foreach {
      case TSym("|") if depth == 0 =>
        stages += cur.result(); cur = Vector.newBuilder[Tok]
      case t =>
        t match {
          case TSym("(") => depth += 1
          case TSym(")") => depth -= 1
          case _ => ()
        }
        cur += t
    }
    stages += cur.result()
    val out = stages.result()
    if (out.exists(_.isEmpty)) fail("empty pipeline stage")
    out
  }

  private def splitOn(toks: Vector[Tok], sep: Tok): Vector[Vector[Tok]] = {
    val parts = Vector.newBuilder[Vector[Tok]]
    var cur = Vector.newBuilder[Tok]
    var depth = 0
    toks.foreach {
      case t if t == sep && depth == 0 =>
        parts += cur.result(); cur = Vector.newBuilder[Tok]
      case t =>
        t match {
          case TSym("(") => depth += 1
          case TSym(")") => depth -= 1
          case _ => ()
        }
        cur += t
    }
    parts += cur.result()
    val out = parts.result()
    if (out.exists(_.isEmpty)) fail("empty list item")
    out
  }

  // ------------------------------------------------- series arithmetic

  /** Empty-series guard for the array-valued series functions: an empty
    * input array yields an empty (double) output array. Without it,
    * `sequence(0, size(a) - 1)` on an empty array is Spark's DESCENDING
    * [0, -1] — a 2-element garbage grid — and the percentile lookups
    * would hit element_at(_, 0), an ANSI error. make-series never emits
    * empty arrays, but the series functions accept any array column.
    * CASE WHEN is lazy, so the guarded body never runs on `[]`.
    */
  private def emptySeriesGuard(a: Column, body: Column): Column =
    when(size(a) === 0, array().cast("array<double>")).otherwise(body)

  /** The exact-arithmetic core every series_* function computes through
    * (the cross-engine parity rule): element sums route DECIMAL(18,6)
    * terms into a (37,12) decimal accumulator — exact and
    * order-independent, so the DuckDB twins reproduce them bit for bit —
    * and every post-sum step is one fixed IEEE expression on identical
    * doubles. Plain sums leave decimal straight to double; product sums
    * leave through [[toD]].
    */
  private object Exact {
    import org.apache.spark.sql.types.DecimalType
    private val d6 = DecimalType(18, 6)
    // accumulator precision 37, not 38: adding a term yields exactly
    // (38,12) (no precision-loss re-scale, which would round the 12th
    // digit and break cross-engine parity), and the cast back to
    // (37,12) is exact for every |sum| < 1e25
    val d12 = DecimalType(37, 12)
    // product sums leave decimal through an exact scale-6 rescale
    // (decimal→decimal rounding is identical on both engines), so the
    // final decimal→double cast sees an unscaled value < 2^53 — the
    // ~sf1 gate caught DuckDB's wide-decimal→DOUBLE cast
    // double-rounding (hugeint→double, then ·10⁻¹²) one ulp off a
    // scale-12 sum in the 1e9 range, which series-stats cancellation
    // then amplified ~30 ulps into the variance
    private val d6w = DecimalType(38, 6)
    val zero: Column = lit(java.math.BigDecimal.ZERO).cast(d12)

    def dec(x: Column): Column = x.cast(d6)
    def toD(acc: Column): Column = acc.cast(d6w).cast("double")
    /** The 0-based index grid of `v` (descending [0, -1] on `[]`). */
    def idx(v: Column): Column = sequence(lit(0), size(v) - 1)
    /** Σv, exact. */
    def sum(v: Column): Column =
      aggregate(v, zero, (a, x) => (a + dec(x)).cast(d12)).cast("double")
    /** Σ uᵢ·vᵢ, exact (every product of two scale-6 terms is exact). */
    def prodSum(u: Column, v: Column): Column =
      toD(aggregate(zip_with(u, v, (x, y) => dec(x) * dec(y)),
        zero, (a, x) => (a + x).cast(d12)))

    /** The least-squares line over the implicit x-axis 0..n-1: Σy and
      * Σxy exact, Σx and Σx² closed-form. A line needs two points, so
      * slope and intercept are null below that (which also keeps an
      * empty series' `sy / n` from raising when they materialize).
      */
    final case class Line(n: Column, sy: Column, sxy: Column, sx: Column,
        sx2: Column, slope: Column, inter: Column)
    def lineFit(v: Column): Line = {
      val n = size(v).cast("double")
      val sy = sum(v)
      val sxy = prodSum(v, idx(v))
      val sx = (n - lit(1.0)) * n / lit(2.0)
      val sx2 = (n - lit(1.0)) * n * (lit(2.0) * n - lit(1.0)) / lit(6.0)
      val slope = when(size(v) > 1, (n * sxy - sx * sy) / (n * sx2 - sx * sx))
      val inter = when(size(v) > 1, sy / n - slope * (sx / n))
      Line(n, sy, sxy, sx, sx2, slope, inter)
    }

    /** The seasonal value at index `i`: the mean of the detrended series
      * over `v`'s positions in i's phase (≡ i mod `period`), derived
      * ALGEBRAICALLY — Σ_q d = Σ_q y − slope·Σ_q i − inter·c_q, with Σ_q y
      * an exact decimal sum, Σ_q i an exact integer sum, c_q the grid
      * count, and the combination one fixed IEEE expression — never by
      * casting a full-precision detrended double to decimal (Spark's
      * shortest-repr BigDecimal and DuckDB's binary expansion round a
      * near-tie double differently; the ~sf1 gate exposed it). `i` may
      * run past `v` (the forecast's horizon); a phase with no position
      * in `v` (only reachable there) has no mean, so the value is null.
      * O(|v|) per element.
      */
    def phaseMean(v: Column, period: Column, slope: Column,
        inter: Column)(i: Column): Column = {
      val q = pmod(i, period)
      val syq = sum(zip_with(v, idx(v), (y, j) =>
        when(pmod(j, period) === q, y).otherwise(lit(0))))
      val siq = aggregate(idx(v), lit(0L), (a, j) =>
        a + when(pmod(j, period) === q, j).otherwise(lit(0)).cast("long"))
        .cast("double")
      val c = when(size(v) > q, floor((size(v) - lit(1) - q) / period) + lit(1))
        .otherwise(lit(0)).cast("double")
      when(c > 0, (syq - slope * siq - inter * c) / c)
    }

    val decompTemps =
      Seq("__graft_sd_p", "__graft_sd_slope", "__graft_sd_inter",
        "__graft_sd_trend", "__graft_sd_sea")

    /** The additive decomposition of the array column `v` at a per-row
      * `period`: returns `df` with the [[decompTemps]] columns (the
      * caller drops them) and the four arrays (baseline, seasonal,
      * trend, residual) over them. trend = the least-squares line;
      * seasonal = [[phaseMean]]; residual = y − trend − seasonal;
      * baseline = trend + seasonal. period, slope, intercept, trend and
      * seasonal MATERIALIZE as columns — CollapseProject keeps non-cheap
      * aliases, so each computes once per row instead of once per
      * reference (the plan-size rule: inlined, the fit replicates into
      * every element of every output).
      */
    def decompose(df: DataFrame, v: Column,
        period: Column): (DataFrame, Seq[Column]) = {
      val fit = lineFit(v)
      val Seq(p, slope, inter, trend, sea) = decompTemps.map(col)
      val d = df.withColumn(decompTemps(0), period)
        .withColumn(decompTemps(1), fit.slope)
        .withColumn(decompTemps(2), fit.inter)
        .withColumn(decompTemps(3), emptySeriesGuard(v,
          transform(idx(v), i => slope * i.cast("double") + inter)))
        .withColumn(decompTemps(4), emptySeriesGuard(v,
          transform(idx(v), i => phaseMean(v, p, slope, inter)(i))))
      val resid = zip_with(zip_with(v, trend, (y, t) => y.cast("double") - t),
        sea, (x, m) => x - m)
      (d, Seq(zip_with(trend, sea, (t, m) => t + m), sea, trend, resid))
    }
  }

  // ------------------------------------------------------- translator

  /** Hard cap on bag_unpack's discovered key set — the bound that makes
    * the driver-side schema discovery a contract (see applyBagUnpack).
    */
  private[graft] val BagUnpackKeyCap = 1000

  /** Stage/expression translation, bound to a session (for `join`'s
    * right-side table resolution) and a `now` column (for `ago`/`now`).
    */
  private final class Translator(s: SparkSession,
      nowOverride: Option[java.time.Instant]) {

    private val nowTs: Column =
      nowOverride.map(i => lit(java.sql.Timestamp.from(i)))
        .getOrElse(current_timestamp())

    // `let` bindings, in statement order. A tabular let is a full
    // translated pipeline (a DataFrame — i.e. a named logical plan, like
    // a SQL CTE); a scalar let is a foldable Column constant.
    private val letTables = scala.collection.mutable.Map.empty[String, DataFrame]
    private val letScalars = scala.collection.mutable.Map.empty[String, Column]

    // let-bound tabular FUNCTIONS (`let f = (T:(*), x:long) { body };`) —
    // the ADX stored-function shape `invoke` consumes. The body stays
    // untranslated tokens: it re-translates per invoke site with the
    // tabular parameter bound to the piped input (pure plan substitution,
    // so Catalyst still sees one flat plan — params cost nothing at run
    // time, exactly like ADX's inlining of user functions).
    private case class KFunc(tab: String, scalars: Vector[(String, String)],
        body: Vector[Tok])
    private val letFuncs = scala.collection.mutable.Map.empty[String, KFunc]

    // declared function-parameter types → the Spark cast applied to each
    // call-site argument (so the signature is honored, not just parsed)
    private val kqlScalarTypes: Map[String, String] = Map(
      "long" -> "long", "int" -> "int", "real" -> "double",
      "double" -> "double", "string" -> "string", "bool" -> "boolean",
      "boolean" -> "boolean", "datetime" -> "timestamp")

    // the most recent `sort by` keys — what `serialize`'s row numbering
    // is defined over (ADX: serialize freezes the current sorted order)
    private var lastSort: Option[Seq[Column]] = None

    // the current pipeline's source TABLE name (None for range/
    // datatable) — what `union withsource=` labels the left side's rows
    // with. Stages do not clear it: rows keep originating from the head
    // table through filters/projections, the ADX withsource semantic.
    private var headTable: Option[String] = None

    /** Set when a `render` stage has been applied in the CURRENT
      * pipeline — ADX allows nothing after it. Scoped per pipeline
      * like [[lastSort]] (a render inside a tabular let or a join
      * side must not poison the outer pipeline).
      */
    private var renderSeen: Boolean = false

    /** `let name = <pipeline or scalar expression>` (statements before
      * the final pipeline). Tabular vs scalar is decided by the RHS
      * head: a known table name (catalog or earlier tabular let) —
      * optionally followed by pipes — is tabular; anything else parses
      * as a constant scalar expression.
      */
    def defineLet(st: Vector[Tok]): Unit = st match {
      // `let name = materialize(pipeline);` — ADX's compute-once hint:
      // every later reference reads the cached result instead of
      // re-running the subquery. localCheckpoint(true) is exactly that
      // semantic in Spark (the plan becomes a materialized LogicalRDD,
      // so N references cost one computation), and it is the same
      // bounded-intermediate pattern the engine ops use for fan-out.
      // Noted divergence: the checkpoint is EAGER (runs at translate
      // time) where ADX materializes on first use — invisible through
      // the gateway, which translates and executes in one request.
      case TIdent("let") +: TIdent(name) +: TSym("=") +:
          TIdent("materialize") +: TSym("(") +: (body :+ TSym(")")) =>
        if (body.isEmpty) fail("materialize needs a tabular expression")
        letTables(name) = pipeline(splitPipes(body)).localCheckpoint(true)
      // `let f = (T:(*), x:long, ...) { body };` — a tabular function.
      // First parameter must be the tabular input (the invoke contract);
      // the rest are typed scalars. The body is stored as raw tokens and
      // translated at each invoke site with the parameters in scope.
      case TIdent("let") +: TIdent(name) +: TSym("=") +: TSym("(") +: rest
          if rest.contains(TSym("{")) =>
        var depth = 1
        var i = 0
        while (i < rest.length && depth > 0) {
          rest(i) match {
            case TSym("(") => depth += 1
            case TSym(")") => depth -= 1
            case _ => ()
          }
          i += 1
        }
        if (depth != 0) fail(s"unbalanced parameter list in function '$name'")
        val paramToks = rest.take(i - 1)
        val body = rest.drop(i) match {
          case TSym("{") +: b :+ TSym("}") if b.nonEmpty => b
          case _ => fail(s"function '$name' needs a `{ pipeline }` body")
        }
        val params =
          if (paramToks.isEmpty) Vector.empty
          else splitOn(paramToks, TSym(","))
        if (params.isEmpty) fail(
          s"function '$name' needs a tabular first parameter `T:(*)`")
        val tab = params.head match {
          case Vector(TIdent(p), TSym(":"), TSym("("), TSym("*"), TSym(")")) => p
          case _ => fail(s"function '$name': the first parameter must be " +
            "tabular (`T:(*)`) — that is what `invoke` pipes the input into")
        }
        val scalars = params.tail.map {
          case Vector(TIdent(p), TSym(":"), TIdent(ty)) =>
            if (!kqlScalarTypes.contains(ty))
              fail(s"function '$name': unsupported parameter type '$ty'")
            (p, ty)
          case other => fail(s"function '$name': parameters after the " +
            s"tabular input must be `name: type`, got $other")
        }
        letFuncs(name) = KFunc(tab, scalars, body)
      case TIdent("let") +: TIdent(name) +: TSym("=") +: rhs if rhs.nonEmpty =>
        val tabular = rhs.head match {
          // the table generators are tabular regardless of what follows
          case TIdent("datatable") | TIdent("range") => true
          case TIdent(t) if rhs.length == 1 || rhs(1) == TSym("|") =>
            letTables.contains(t) || s.catalog.tableExists(t)
          case _ => false
        }
        if (tabular) letTables(name) = pipeline(splitPipes(rhs))
        else letScalars(name) = parseArithToks(rhs)
      case _ =>
        fail("only `let name = ...;` statements may precede the query")
    }

    /** Table reference: tabular lets shadow the session catalog. */
    private def sourceTable(name: String): DataFrame =
      letTables.getOrElse(name, s.table(name))

    def pipeline(stages: Vector[Vector[Tok]]): DataFrame = {
      val source = stages.head match {
        case Vector(TIdent(t)) => sourceTable(t)
        case TIdent("range") +: rest => rangeSource(rest)
        case TIdent("datatable") +: rest => datatableSource(rest)
        case TIdent("print") +: rest => printSource(rest)
        case TIdent("find") +: rest => findSource(rest)
        case TIdent("externaldata") +: rest => externaldataSource(rest)
        case _ => fail("a CSL query must start with a table name, range, " +
          "datatable, print, find, or externaldata")
      }
      // `lastSort` is scoped per pipeline: a sort inside a tabular let
      // or a join/lookup/union sub-pipeline must not satisfy an OUTER
      // serialize's required-preceding-sort invariant
      val saved = lastSort
      val savedHead = headTable
      val savedRender = renderSeen
      lastSort = None
      renderSeen = false
      headTable = stages.head match {
        case Vector(TIdent(t)) => Some(t)
        case _ => None
      }
      try stages.tail.foldLeft(source)(applyStage)
      finally {
        lastSort = saved; headTable = savedHead; renderSeen = savedRender
      }
    }

    // -------------------------------------------------------- datatable
    //   datatable '(' name ':' type (',' name ':' type)* ')'
    //             '[' literal (',' literal)* ']'
    //   Inline literal table (row-major values) — the ADX idiom for a
    //   small dimension right in the query text (typically behind a
    //   tabular let, joined via lookup). Translates to a LocalRelation:
    //   a handful of driver-local rows that broadcast like any other
    //   small dimension, never a scan.

    /** `find [withsource=Col] in (T1, T2, ...) where <predicate>` — the
      * CROSS-TABLE grep (`search`'s multi-table sibling): matching rows
      * from every listed table, schemas merged by name (a column a
      * table lacks is null there — so a typed predicate simply never
      * matches rows from tables without the column, ADX's effective
      * semantics), each row tagged with its origin table in the
      * `source_` column (ADX's default name), emitted first. The union
      * machinery is applyUnion's withsource path; the predicate pushes
      * DOWN through the union onto each side's scan (Catalyst splits a
      * filter over a Union into per-child filters).
      */
    private def findSource(toks: Vector[Tok]): DataFrame = {
      var rem = toks
      val wsrc = rem match {
        case TIdent("withsource") +: TSym("=") +: TIdent(nm) +: t =>
          rem = t; nm
        case _ => "source_"
      }
      val (names, predToks) = rem match {
        case TIdent("in") +: TSym("(") +: t =>
          val close = t.indexOf(TSym(")"))
          if (close < 0) fail("find: unbalanced table list")
          val nms = splitOn(t.take(close), TSym(",")).map {
            case Vector(TIdent(n)) => n
            case other => fail(s"find table references must be plain names, got $other")
          }
          t.drop(close + 1) match {
            case TIdent("where") +: p if p.nonEmpty => (nms, p)
            case _ => fail("find needs `where <predicate>` after the table list")
          }
        case _ => fail("find syntax: find [withsource=Col] in (T1, T2) where <pred>")
      }
      if (names.isEmpty) fail("find needs at least one table")
      val sides = names.map { t =>
        val d = sourceTable(t)
        d.select((lit(t).as(wsrc) +: d.columns.map(col).toSeq): _*)
      }
      sides.reduce(_.unionByName(_, allowMissingColumns = true))
        .filter(parsePredicate(predToks))
    }

    /** `externaldata (name: type, ...) ['uri'] [with (format='csv')]` —
      * the typed external-file source: rows come from a URI outside the
      * database, with the schema declared inline (the ADX idiom for
      * allow-lists and reference snapshots living in blob storage).
      * Translates to a schema'd Spark csv read of the URI — a real
      * distributed scan, pruned and pushed like any file source. csv is
      * the only format in this subset (ADX's default).
      */
    private def externaldataSource(toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.types._
      var rem = toks match {
        case TSym("(") +: t => t
        case _ => fail("externaldata needs a (name: type, ...) schema")
      }
      val fields = Vector.newBuilder[StructField]
      var inSchema = true
      while (inSchema) rem match {
        case TIdent(nm) +: TSym(":") +: TIdent(ty) +: t =>
          if (!kqlScalarTypes.contains(ty))
            fail(s"unsupported externaldata column type '$ty'")
          fields += StructField(nm,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(kqlScalarTypes(ty)), nullable = true)
          t match {
            case TSym(",") +: t2 => rem = t2
            case TSym(")") +: t2 => rem = t2; inSchema = false
            case _ => fail("externaldata schema items must be `name: type`")
          }
        case _ => fail("externaldata schema items must be `name: type`")
      }
      val schema = StructType(fields.result())
      if (schema.isEmpty) fail("externaldata needs at least one column")
      val uri = rem match {
        case TSym("[") +: TStr(u) +: TSym("]") +: t =>
          rem = t
          if (u.isEmpty) fail("externaldata needs a non-empty URI")
          u
        case _ => fail("externaldata needs ['<uri>'] after the schema")
      }
      val format = rem match {
        case Vector() => "csv"
        case Vector(TIdent("with"), TSym("("), TIdent("format"), TSym("="),
            TStr(fmt), TSym(")")) =>
          if (fmt != "csv" && fmt != "parquet")
            fail(s"externaldata format '$fmt' unsupported (csv, parquet)")
          fmt
        case other => fail(s"externaldata: expected `with (format=...)`, got $other")
      }
      format match {
        case "csv" => s.read.schema(schema).csv(uri)
        case "parquet" =>
          // the reference's documented external-read idiom is PARQUET
          // over its own output layout (OPENROWSET FORMAT='PARQUET',
          // reference README.md:92-100). The inline schema is a
          // CONTRACT, not a cast: every declared column must exist in
          // the file footer with exactly the declared type — a drifted
          // file fails loudly at translate time, never silently casts.
          val file = s.read.parquet(uri)
          val byName = file.schema.fields.map(f => f.name -> f.dataType).toMap
          schema.fields.foreach { f =>
            byName.get(f.name) match {
              case None => fail(
                s"externaldata parquet: column '${f.name}' absent from " +
                  s"file footer (has: ${file.schema.fieldNames.mkString(", ")})")
              case Some(dt) if dt != f.dataType => fail(
                s"externaldata parquet: column '${f.name}' declared " +
                  s"${f.dataType.simpleString} but file footer has ${dt.simpleString}")
              case _ => ()
            }
          }
          file.select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      }
    }

    /** `print x = expr [, y = expr ...]` — the ADX one-row evaluator
      * (the statement every ADX user types to poke at a scalar).
      * Compiles to a projection over a literal 1-row relation; aliases
      * are required in this subset (ADX would generate print_N names).
      */
    private def printSource(toks: Vector[Tok]): DataFrame = {
      if (toks.isEmpty) fail("print needs at least one `name = expr`")
      val cols = splitOn(toks, TSym(",")).map {
        case TIdent(alias) +: TSym("=") +: e if e.nonEmpty =>
          parseArithToks(e).as(alias)
        case other =>
          fail(s"print items must be `name = expr` in this subset, got $other")
      }
      s.range(1).select(cols: _*)
    }

    private def datatableSource(toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.types._
      var rem = toks match {
        case TSym("(") +: t => t
        case _ => fail("datatable needs a (name: type, ...) schema")
      }
      // schema items up to the closing ')'
      val fields = Vector.newBuilder[StructField]
      var inSchema = true
      while (inSchema) rem match {
        case TIdent(nm) +: TSym(":") +: TIdent(ty) +: t =>
          val dt = ty match {
            case "string" => StringType
            case "long" => LongType
            case "int" => IntegerType
            case "real" | "double" => DoubleType
            case "bool" | "boolean" => BooleanType
            case "datetime" => TimestampType
            case other => fail(s"unsupported datatable column type '$other'")
          }
          fields += StructField(nm, dt, nullable = true)
          t match {
            case TSym(",") +: t2 => rem = t2
            case TSym(")") +: t2 => rem = t2; inSchema = false
            case _ => fail("datatable schema items must be `name: type`")
          }
        case _ => fail("datatable schema items must be `name: type`")
      }
      val schema = StructType(fields.result())
      val vals = rem match {
        case TSym("[") +: inner :+ TSym("]") =>
          if (inner.isEmpty) Vector.empty[Vector[Tok]]
          else splitOn(inner, TSym(","))
        case _ => fail("datatable needs a [v1, v2, ...] value list")
      }
      if (schema.isEmpty) fail("datatable needs at least one column")
      if (vals.length % schema.length != 0)
        fail(s"datatable value count ${vals.length} is not a multiple of " +
          s"the ${schema.length}-column schema")
      def cell(toks: Vector[Tok], dt: DataType): Any = (toks, dt) match {
        case (Vector(TStr(v)), StringType) => v
        case (Vector(TNum(v)), LongType) if !v.contains('.') => v.toLong
        case (Vector(TNum(v)), IntegerType) if !v.contains('.') => v.toInt
        case (Vector(TNum(v)), DoubleType) => v.toDouble
        case (Vector(TIdent("true")), BooleanType) => true
        case (Vector(TIdent("false")), BooleanType) => false
        case (Vector(TDate(us)), TimestampType) =>
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            us / 1000000L, (us % 1000000L) * 1000L))
        case (Vector(TIdent("null")), _) => null
        case (other, _) => fail(s"datatable value $other does not fit type $dt")
      }
      val rows = vals.grouped(schema.length).map { group =>
        org.apache.spark.sql.Row.fromSeq(
          group.zip(schema.fields).map { case (t, f) => cell(t, f.dataType) })
      }.toSeq
      s.createDataFrame(
        new java.util.ArrayList(scala.jdk.CollectionConverters
          .SeqHasAsJava(rows).asJava), schema)
    }

    // ------------------------------------------------------------ range
    //   range name from start to stop step step
    //   The ADX table generator: one column, values start, start+step,
    //   ... up to AND INCLUDING stop (when it lands on the grid) — the
    //   semantics of Spark's sequence(), which stays a foldable
    //   expression: numeric ranges and datetime/timespan ranges both
    //   materialize without a driver loop.

    private def rangeSource(toks: Vector[Tok]): DataFrame = toks match {
      case TIdent(name) +: TIdent("from") +: rest =>
        val toIdx = rest.indexOf(TIdent("to"))
        val stepIdx = rest.indexOf(TIdent("step"))
        if (toIdx < 0 || stepIdx < 0 || stepIdx < toIdx)
          fail("range needs `from <start> to <stop> step <step>`")
        val fromE = parseArithToks(rest.take(toIdx))
        val toE = parseArithToks(rest.slice(toIdx + 1, stepIdx))
        val stepToks = rest.drop(stepIdx + 1)
        stepToks match {
          case Vector(TSpan(us)) =>
            if (us <= 0) fail("range step must be positive")
            (rest.take(toIdx), rest.slice(toIdx + 1, stepIdx)) match {
              case (Vector(TDate(a)), Vector(TDate(b))) if a > b =>
                fail("range start must be <= stop")
              case _ => ()
            }
            // datetime range: sequence over epoch-µs, back to timestamps
            s.range(1).select(explode(sequence(
              unix_micros(fromE.cast("timestamp")),
              unix_micros(toE.cast("timestamp")), lit(us))).as("u"))
              .select(timestamp_micros(col("u")).as(name))
          case _ =>
            // validate what is literally visible at parse time so a bad
            // range surfaces as a clean CSL 400, not an executor-time
            // sequence error
            stepToks match {
              case Vector(TNum(v)) if v.toDouble <= 0 =>
                fail("range step must be positive")
              case _ => ()
            }
            (rest.take(toIdx), rest.slice(toIdx + 1, stepIdx)) match {
              case (Vector(TNum(a)), Vector(TNum(b))) if a.toDouble > b.toDouble =>
                fail("range start must be <= stop")
              case _ => ()
            }
            val stepE = parseArithToks(stepToks)
            s.range(1).select(explode(sequence(fromE, toE, stepE)).as(name))
        }
      case _ => fail("range needs `range <name> from <start> to <stop> step <step>`")
    }

    // ---------------------------------------------------------- stages

    /** Row-order bookkeeping around [[applyStage0]]: stages that keep
      * row identity (filter/projection families) preserve the pending
      * `sort by` keys for a later `serialize`; everything else —
      * aggregation, joins, unions, expansions — destroys the frozen
      * order, so serialize after them is rejected again.
      */
    private def applyStage(df: DataFrame, st: Vector[Tok]): DataFrame = {
      // `render` is a terminal annotation: ADX rejects operators after it
      if (renderSeen) fail("render must be the last operator in the query")
      val out = applyStage0(df, st)
      st match {
        case TIdent("top") +: TSym("-") +: TIdent(sub) +: _
            if sub == "nested" || sub == "hitters" =>
          lastSort = None // both drill-down forms aggregate; frozen order gone
        // `search` is a row-wise filter (the `where` class): it keeps
        // row identity, so a frozen sort survives it in ADX too;
        // `render` and `as` are row-identity no-ops by construction
        case TIdent(op) +: _ if Set("where", "project", "extend", "parse",
            "take", "limit", "sort", "order", "top", "serialize",
            "search", "render", "as")(op) => ()
        case _ => lastSort = None
      }
      out
    }

    private def applyStage0(df: DataFrame, st: Vector[Tok]): DataFrame =
      st match {
        case Vector(TIdent(op), TNum(k)) if op == "take" || op == "limit" =>
          df.limit(k.toInt)
        case Vector(TIdent("count")) =>
          df.agg(count(lit(1)).as("Count"))
        case TIdent("where") +: rest =>
          df.filter(parsePredicate(rest))
        // the project-* family tokenizes as ident '-' ident
        case TIdent("project") +: TSym("-") +: TIdent("away") +: rest =>
          df.drop(parseNameList(rest): _*)
        case TIdent("project") +: TSym("-") +: TIdent("keep") +: rest =>
          // ADX keeps the TABLE's column order, not the list's
          val keep = parseNameList(rest).toSet
          df.select(df.columns.filter(keep).map(col).toSeq: _*)
        case TIdent("project") +: TSym("-") +: TIdent("reorder") +: rest =>
          // project-reorder c1, c2: listed columns first (in list
          // order), every other column follows in TABLE order — a pure
          // projection, zero cost
          val front = parseNameList(rest)
          front.foreach(c =>
            if (!df.columns.contains(c)) fail(s"project-reorder: no column '$c'"))
          val back = df.columns.filterNot(front.contains)
          df.select((front ++ back).map(col): _*)
        case TIdent("project") +: TSym("-") +: TIdent("rename") +: rest =>
          // project-rename new = old, ...: renames in place, keeps the rest
          parseRenameItems(rest).foldLeft(df) { case (d, (to, from)) =>
            d.withColumnRenamed(from, to)
          }
        case TIdent("project") +: rest =>
          df.select(parseProjection(rest): _*)
        case TIdent("summarize") +: rest =>
          applySummarize(df, rest)
        case TIdent("extend") +: TSym("(") +: rest =>
          applyExtendSeries(df, rest)
        case TIdent("extend") +: rest =>
          parseExtendItems(rest).foldLeft(df) { case (d, (name, e)) =>
            d.withColumn(name, e)
          }
        case TIdent("top") +: TSym("-") +: TIdent("nested") +: rest =>
          applyTopNested(df, rest)
        case TIdent("top") +: TSym("-") +: TIdent("hitters") +: rest =>
          applyTopHitters(df, rest)
        case TIdent("evaluate") +: TIdent("pivot") +: TSym("(") +: inner :+ TSym(")") =>
          applyPivot(df, inner)
        case TIdent("evaluate") +: TIdent("bag_unpack") +: TSym("(") +: inner :+ TSym(")") =>
          applyBagUnpack(df, inner)
        case TIdent("evaluate") +: TIdent("activity_counts_metrics") +: TSym("(") +: inner :+ TSym(")") =>
          applyActivityCounts(df, inner)
        case TIdent("evaluate") +: TIdent("activity_engagement") +: TSym("(") +: inner :+ TSym(")") =>
          applyActivityEngagement(df, inner)
        case TIdent("evaluate") +: TIdent("new_activity_metrics") +: TSym("(") +: inner :+ TSym(")") =>
          applyNewActivityMetrics(df, inner)
        case TIdent("evaluate") +: TIdent("funnel_sequence_completion") +: TSym("(") +: inner :+ TSym(")") =>
          applyFunnelCompletion(df, inner)
        case TIdent("evaluate") +: TIdent("sliding_window_counts") +: TSym("(") +: inner :+ TSym(")") =>
          applySlidingWindow(df, inner)
        case TIdent("evaluate") +: TIdent("sequence_detect") +: TSym("(") +: inner :+ TSym(")") =>
          applySequenceDetect(df, inner)
        case TIdent("evaluate") +: TIdent("dcount_intersect") +: TSym("(") +: inner :+ TSym(")") =>
          applyDcountIntersect(df, inner)
        case TIdent("evaluate") +: TIdent("basket") +: TSym("(") +: inner :+ TSym(")") =>
          applyBasket(df, inner)
        case Vector(TIdent("evaluate"), TIdent("basket")) =>
          applyBasket(df, Vector.empty)
        case TIdent("evaluate") +: TIdent("autocluster") +: TSym("(") +: inner :+ TSym(")") =>
          applyAutocluster(df, inner)
        case Vector(TIdent("evaluate"), TIdent("autocluster")) =>
          applyAutocluster(df, Vector.empty)
        case TIdent("evaluate") +: TIdent("diffpatterns") +: TSym("(") +: inner :+ TSym(")") =>
          applyDiffpatterns(df, inner)
        case TIdent("evaluate") +: TIdent(plugin) +: _ =>
          fail(s"unsupported evaluate plugin '$plugin'")
        case Vector(TIdent("getschema")) =>
          applyGetschema(df)
        case TIdent("partition") +: rest =>
          applyPartitionBy(df, rest)
        case TIdent("top") +: TNum(k) +: TIdent("by") +: rest =>
          // ADX `top N by key [asc|desc]`, default DESCENDING — orderBy +
          // limit compiles to TakeOrderedAndProject (per-partition heap).
          // top's result is ordered, so a following serialize may number it
          lastSort = Some(parseSortKeys(rest))
          df.orderBy(lastSort.get: _*).limit(k.toInt)
        case Vector(TIdent("distinct"), TSym("*")) =>
          df.distinct()
        case TIdent("distinct") +: rest =>
          df.select(parseNameList(rest).map(col): _*).distinct()
        case Vector(TIdent("sample"), TNum(k)) =>
          // DIALECT: ADX `sample N` is uniform-random and
          // non-reproducible; this subset substitutes the engine's
          // standing deterministic draw — rank on md5 over the WHOLE
          // row (all columns stringified) with the row's md5 itself as
          // the tie-break, cut at N. Same expected-uniformity argument
          // as q_weighted_sample's md5 uniform; reproducible across
          // engines, cluster sizes, and partitionings — which is what
          // a 100 TB rerun needs. One TakeOrderedAndProject. The
          // serialization is injective: a \u0001 separator between
          // columns (no cross-boundary collisions like ("1","23") vs
          // ("12","3")) and a \u0002 null sentinel (concat_ws SKIPS
          // nulls, which would alias (null,"x") with ("x",null)); the
          // serialized row itself is the md5 tie-break, so the draw is
          // total-ordered even across md5 collisions.
          val rowKey = concat_ws("\u0001",
            df.columns.map(c =>
              coalesce(col(c).cast("string"), lit("\u0002"))).toSeq: _*)
          df.orderBy(md5(rowKey), rowKey).limit(k.toInt)
        case Vector(TIdent("sample"), TSym("-"), TIdent("distinct"), TNum(k),
            TIdent("of"), TIdent(c)) =>
          // DIALECT: ADX `sample-distinct N of Col` returns N random
          // distinct values; deterministic md5-ranked variant, same
          // rationale as `sample` (null sentinel so a null value ranks
          // deterministically instead of by engine null-order).
          df.select(col(c)).distinct()
            .orderBy(md5(coalesce(col(c).cast("string"), lit("\u0002"))),
              col(c))
            .limit(k.toInt)
        case TIdent(op) +: TIdent("by") +: rest if op == "sort" || op == "order" =>
          lastSort = Some(parseSortKeys(rest))
          df.orderBy(lastSort.get: _*)
        case TIdent("serialize") +: rest =>
          applySerialize(df, rest)
        case TIdent("scan") +: rest =>
          applyScan(df, rest, Nil, lastSort)
        case TIdent("join") +: rest =>
          applyJoin(df, rest)
        case TIdent("lookup") +: rest =>
          applyLookup(df, rest)
        case TIdent("mv") +: TSym("-") +: TIdent("expand") +: rest =>
          rest match {
            // ADX default: a null/empty array contributes no rows
            case Vector(TIdent(c)) => df.withColumn(c, explode(col(c)))
            case _ => fail("mv-expand takes exactly one array column")
          }
        case TIdent("mv") +: TSym("-") +: TIdent("apply") +: rest =>
          applyMvApply(df, rest)
        case TIdent("parse") +: TSym("-") +: TIdent("kv") +: rest =>
          applyParseKv(df, rest)
        case TIdent("parse") +: TSym("-") +: TIdent("where") +: rest =>
          applyParse(df, rest, filterMatched = true)
        case TIdent("parse") +: rest =>
          applyParse(df, rest)
        case TIdent("union") +: rest =>
          applyUnion(df, rest)
        // `search ["kind=case_sensitive"] "needle"` — term-match over
        // EVERY string column (ADX's cross-column search; non-string
        // columns don't participate, same as the ADX term index).
        // A filter of ORed rlikes stays a pushable Catalyst Filter.
        case TIdent("search") +: rest =>
          val (cs, needleTok) = rest match {
            case Vector(TIdent("kind"), TSym("="), TIdent("case_sensitive"), t) =>
              (true, t)
            case Vector(t) => (false, t)
            case _ => fail("search syntax: search [kind=case_sensitive] \"needle\"")
          }
          val needle = needleTok match {
            case TStr(v) if v.nonEmpty => v
            case t => fail(s"search takes a non-empty string literal, got $t")
          }
          val strCols = df.schema.fields.collect {
            case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
          }
          if (strCols.isEmpty) fail("search: no string columns to search")
          df.filter(strCols.map(n => hasNeedle(col(n), needle, cs)).reduce(_ || _))
        case TIdent("make") +: TSym("-") +: TIdent("series") +: rest =>
          applyMakeSeries(df, rest)
        // `invoke f(args...)` — apply a let-bound tabular function to the
        // piped input. Pure plan substitution: the body translates here
        // with the tabular parameter bound to `df`, so Catalyst sees one
        // flat plan and the function costs nothing at run time (the same
        // inlining ADX performs for user functions).
        case TIdent("invoke") +: TIdent(fname) +: TSym("(") +:
            (argT :+ TSym(")")) =>
          applyInvoke(df, fname, argT)
        // `reduce by Expr` — pattern clustering: rows group by their
        // string's PATTERN. The deterministic fold chain (round 13
        // extends digit runs with ADX's GUID/hex shapes): (1) whole
        // GUIDs (8-4-4-4-12 hex) → `*`; (2) decimal digit runs → `*`;
        // (3) hex-letter runs ADJACENT to a fold absorb into it — so a
        // mixed hex token like `deadbeef1234cafe` folds completely,
        // while pure-letter words (`cafe`, `added`) never fold (the
        // at-least-one-digit heuristic, expressed without lookaheads so
        // DuckDB's RE2 replays it verbatim); (4) adjacent stars
        // collapse. Output contract matches ADX: Pattern, Count. One
        // hash aggregate over a codegen'd projection — no extra pass.
        case TIdent("reduce") +: TIdent("by") +: rest if rest.nonEmpty =>
          df.groupBy(reducePattern(parseArithToks(rest).cast("string"))
              .as("Pattern"))
            .agg(count(lit(1)).as("Count"))
        // `render <kind> [with (...)]` — ACCEPT-AND-STRIP: render is a
        // client-side visualization annotation (every dashboard-saved
        // ADX query ends in one); the data result is the pipeline's,
        // unchanged. Any identifier is a legal kind (ADX adds kinds
        // over time; rejecting unknown ones would break saved queries),
        // the optional with(...) property bag is validated for shape
        // only, and nothing may follow (renderSeen, checked by
        // applyStage — ADX's own rule).
        case TIdent("render") +: rest =>
          rest match {
            case TIdent(_) +: more =>
              more match {
                case Vector() => ()
                case TIdent("with") +: TSym("(") +: (inner :+ TSym(")"))
                    if !inner.contains(TSym("(")) => ()
                case _ => fail("render syntax: render <kind> [with (...)]")
              }
              renderSeen = true
              df
            case _ => fail("render needs a visualization kind")
          }
        // `as [hint.materialized=true|false] Name` — bind the pipeline's
        // current result to a name later stages of the SAME query can
        // reference (the inline form of a tabular let; same letTables
        // registry, so join/union/invoke sides resolve it identically).
        // The materialized hint maps to localCheckpoint(true) exactly
        // like `let x = materialize(...)`.
        case TIdent("as") +: rest =>
          val (mat, nameToks) = rest match {
            case TIdent("hint") +: TSym(".") +: TIdent("materialized") +:
                TSym("=") +: TIdent(b) +: t if b == "true" || b == "false" =>
              (b == "true", t)
            case t => (false, t)
          }
          nameToks match {
            case Vector(TIdent(name)) =>
              val bound = if (mat) df.localCheckpoint(true) else df
              letTables(name) = bound
              bound
            case _ => fail("as syntax: as [hint.materialized=true] Name")
          }
        case TIdent("fork") +: rest =>
          applyFork(df, rest)
        case TIdent("facet") +: TIdent("by") +: rest =>
          applyFacet(df, rest)
        case TIdent(op) +: _ =>
          fail(s"unsupported operator '$op'")
        case _ =>
          fail("malformed pipeline stage")
      }

    // ---------------------------------------------------------- invoke

    /** Bind the piped input to the function's tabular parameter and the
      * call-site arguments (constant expressions, cast to the declared
      * parameter types) to its scalar parameters, then translate the
      * stored body in that scope. Parameters SHADOW outer bindings of
      * the same name and are restored after — ADX function scoping.
      */
    private def applyInvoke(df: DataFrame, fname: String,
        argToks: Vector[Tok]): DataFrame = {
      val fn = letFuncs.getOrElse(fname, fail(s"invoke of undefined " +
        s"function '$fname' (define it first: " +
        s"`let $fname = (T:(*), ...) { ... };`)"))
      val args =
        if (argToks.isEmpty) Vector.empty
        else splitOn(argToks, TSym(","))
      if (args.length != fn.scalars.length)
        fail(s"$fname() takes ${fn.scalars.length} scalar argument(s) " +
          s"after the piped input, got ${args.length}")
      val bound = fn.scalars.zip(args).map { case ((p, ty), at) =>
        p -> parseArithToks(at).cast(kqlScalarTypes(ty))
      }
      val savedTab = letTables.get(fn.tab)
      val savedScalars = fn.scalars.map { case (p, _) => p -> letScalars.get(p) }
      letTables(fn.tab) = df
      bound.foreach { case (p, c) => letScalars(p) = c }
      try pipeline(splitPipes(fn.body))
      finally {
        savedTab match {
          case Some(v) => letTables(fn.tab) = v
          case None => letTables.remove(fn.tab)
        }
        savedScalars.foreach {
          case (p, Some(v)) => letScalars(p) = v
          case (p, None) => letScalars.remove(p)
        }
      }
    }

    // ------------------------------------------------------------ join
    //   join := ['kind' '=' ident] ('(' pipeline ')' | table)
    //           'on' key (',' key)*
    //   key  := ident | '$left' '.' ident '==' '$right' '.' ident
    //   Right side is a FULL sub-pipeline. Keys are equalities only
    //   (as in ADX). Bare keys merge using-join style (one output key
    //   column — the subset's standing contract); the explicit
    //   `$left.x == $right.y` form (round 13) keeps BOTH key columns
    //   and renames right-side collisions with ADX's next-free-`1`
    //   suffix rule. Either side order is accepted; non-equi
    //   operators fail loudly.

    private def applyJoin(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      var rem = toks
      // kind= and hint.*= parameters in any order (ADX allows both
      // orders; saved production queries carry hints routinely).
      // hint.strategy=broadcast maps to a REAL broadcast hint on the
      // right side; hint.strategy=shuffle is Spark's default plan and
      // strips; shufflekey/num_partitions are advisory (Spark already
      // hash-partitions on the join keys) and strip with the shape
      // validated.
      var kind = "innerunique" // the ADX default
      var broadcastRight = false
      var loop = true
      while (loop) rem match {
        case TIdent("kind") +: TSym("=") +: TIdent(k) +: t =>
          kind = k; rem = t
        case TIdent("hint") +: TSym(".") +: TIdent(h) +: TSym("=") +: v +: t =>
          h match {
            case "strategy" => v match {
              case TIdent("broadcast") => broadcastRight = true
              case TIdent("shuffle") => ()
              case other => fail(s"unsupported join strategy hint $other")
            }
            case "shufflekey" => v match {
              case TIdent(_) => ()
              case other => fail(s"hint.shufflekey needs a column, got $other")
            }
            case "num_partitions" => v match {
              case TNum(_) => ()
              case other => fail(s"hint.num_partitions needs a number, got $other")
            }
            case other => fail(s"unsupported join hint 'hint.$other'")
          }
          rem = t
        case _ => loop = false
      }
      val (right0, keyPairs) = joinRightSide(rem)
      val right = if (broadcastRight) broadcast(right0) else right0
      if (keyPairs.forall { case (a, b) => a == b }) {
        val keys = keyPairs.map(_._1)
        kind match {
          case "inner" => df.join(right, keys, "inner")
          // ADX innerunique: left side deduplicated on the keys first
          // (which left row survives is arbitrary — same as ADX)
          case "innerunique" => df.dropDuplicates(keys).join(right, keys, "inner")
          case "leftouter" => df.join(right, keys, "left")
          case "rightouter" => df.join(right, keys, "right")
          case "fullouter" => df.join(right, keys, "full")
          case "leftanti" | "anti" => df.join(right, keys, "left_anti")
          case "leftsemi" => df.join(right, keys, "left_semi")
          // right-flavored kinds: Spark has no right_semi/right_anti —
          // swap the sides (output is the RIGHT schema, per ADX). Spark
          // can only BUILD the right side of LeftSemi/LeftAnti, so a
          // broadcast hint repoints to the probe set (the only
          // broadcastable side after the swap) instead of going inert
          case "rightsemi" =>
            right0.join(if (broadcastRight) broadcast(df) else df, keys, "left_semi")
          case "rightanti" =>
            right0.join(if (broadcastRight) broadcast(df) else df, keys, "left_anti")
          case other => fail(s"unsupported join kind '$other'")
        }
      } else explicitKeyJoin(df, right0, keyPairs, kind,
        broadcastRight = broadcastRight)
    }

    /** The `$left.x == $right.y` join path: explicit equality
      * condition over aliased sides (no using-merge). Output follows
      * ADX: left columns first, then EVERY right column, with
      * collisions renamed by the next-free `1` suffix
      * (`key`→`key1`→`key2`…). Semi/anti kinds keep only the surviving
      * side's schema, unrenamed. The physical plan is identical to the
      * using-join path (equi-keys hash-partition; a broadcast hint on
      * the right survives the alias), so the 100 TB shape is unchanged.
      */
    private def explicitKeyJoin(df: DataFrame, right: DataFrame,
        keyPairs: Vector[(String, String)], kind: String,
        broadcastRight: Boolean,
        dropRightKeys: Boolean = false): DataFrame = {
      // disambiguation by RENAME, not by alias: both sides routinely
      // share lineage (self-joins over the same source view), where
      // Spark's dataset-apply resolution trips its ambiguous-self-join
      // check; a scratch `__jr_` prefix on every right column makes the
      // namespaces disjoint before the join, so name resolution is
      // trivially unambiguous and the final select restores the ADX
      // output names
      val leftKeys = keyPairs.map(_._1).distinct
      val rightKeys = keyPairs.map(_._2).toSet
      kind match {
        case "rightsemi" | "rightanti" =>
          // output is the RIGHT schema — prefix the LEFT side instead.
          // Spark can only build the right side of a LeftSemi/LeftAnti,
          // so a broadcast hint repoints to the probe set
          val lPref0 = df.toDF(df.columns.map("__jl_" + _).toIndexedSeq: _*)
          val lPref = if (broadcastRight) broadcast(lPref0) else lPref0
          val cond = keyPairs
            .map { case (a, b) => col("__jl_" + a) === col(b) }
            .reduce(_ && _)
          right.join(lPref, cond,
            if (kind == "rightsemi") "left_semi" else "left_anti")
        case "leftanti" | "anti" | "leftsemi" =>
          val rPref0 = right.toDF(right.columns.map("__jr_" + _).toIndexedSeq: _*)
          val rPref = if (broadcastRight) broadcast(rPref0) else rPref0
          val cond = keyPairs
            .map { case (a, b) => col(a) === col("__jr_" + b) }
            .reduce(_ && _)
          df.join(rPref, cond,
            if (kind == "leftsemi") "left_semi" else "left_anti")
        case _ =>
          val how = kind match {
            case "inner" | "innerunique" => "inner"
            case "leftouter" => "left"
            case "rightouter" => "right"
            case "fullouter" => "full"
            case other => fail(s"unsupported join kind '$other'")
          }
          val lBase =
            if (kind == "innerunique") df.dropDuplicates(leftKeys) else df
          val rPref0 = right.toDF(right.columns.map("__jr_" + _).toIndexedSeq: _*)
          val rPref = if (broadcastRight) broadcast(rPref0) else rPref0
          val cond = keyPairs
            .map { case (a, b) => col(a) === col("__jr_" + b) }
            .reduce(_ && _)
          val used = scala.collection.mutable.Set(lBase.columns.toSeq: _*)
          // dropRightKeys = the ADX lookup contract: lookup output
          // excludes the right-side KEY columns (unlike join)
          val rightCols = right.columns
            .filterNot(n => dropRightKeys && rightKeys.contains(n))
            .map { n =>
              if (!used.contains(n)) { used += n; col("__jr_" + n).as(n) }
              else {
                var k = 1
                while (used.contains(n + k)) k += 1
                used += (n + k)
                col("__jr_" + n).as(n + k)
              }
            }
          lBase.join(rPref, cond, how)
            .select(lBase.columns.map(col(_)).toSeq ++ rightCols: _*)
      }
    }

    /** The `reduce by` fold chain (see the dispatcher comment). Kept as
      * four plain RE2-compatible passes so the DuckDB twin is the same
      * four regexp_replace calls.
      */
    private def reducePattern(s0: Column): Column = {
      val hex = "[0-9a-fA-F]"
      val guid = s"$hex{8}-$hex{4}-$hex{4}-$hex{4}-$hex{12}"
      val p1 = regexp_replace(s0, guid, "*")
      val p2 = regexp_replace(p1, "[0-9]+", "*")
      val p3 = regexp_replace(p2, s"$hex*\\*$hex*", "*")
      regexp_replace(p3, "\\*+", "*")
    }

    /** Shared join/lookup right-side parse: `(pipeline)` or a table
      * name, followed by `on key[, key]` where each key is a bare name
      * or `$left.x == $right.y`. Returns the translated right side and
      * the (leftName, rightName) key pairs (bare `k` → (k, k)).
      */
    private def joinRightSide(toks: Vector[Tok]): (DataFrame, Vector[(String, String)]) = {
      val (rightToks, afterRight) = toks match {
        case TSym("(") +: t =>
          var depth = 1
          var idx = 0
          while (idx < t.length && depth > 0) {
            t(idx) match {
              case TSym("(") => depth += 1
              case TSym(")") => depth -= 1
              case _ => ()
            }
            idx += 1
          }
          if (depth != 0) fail("unbalanced parens in join right side")
          (t.take(idx - 1), t.drop(idx))
        case TIdent(tbl) +: t => (Vector[Tok](TIdent(tbl)), t)
        case _ => fail("join needs a right side: (pipeline) or a table name")
      }
      val keys = afterRight match {
        case TIdent("on") +: keyToks => parseJoinKeys(keyToks)
        case _ => fail("join requires `on key[, key]` (equality keys only)")
      }
      (pipeline(splitPipes(rightToks)), keys)
    }

    /** Join key list: bare idents and/or `$left.x == $right.y` items
      * (either side order). Any operator other than `==` fails loudly
      * — ADX joins are equi-only, and a silent drop would turn a
      * range-join intent into a wrong answer.
      */
    private def parseJoinKeys(toks: Vector[Tok]): Vector[(String, String)] =
      splitOn(toks, TSym(",")).map {
        case Vector(TIdent(k)) => (k, k)
        case Vector(TSym("$"), TIdent(s1), TSym("."), TIdent(a), TSym(op),
            TSym("$"), TIdent(s2), TSym("."), TIdent(b)) =>
          if (op != "==")
            fail(s"join keys are equalities only ($$left.x == $$right.y); " +
              s"got operator '$op' — rewrite a non-equi condition as a " +
              "post-join `where`")
          (s1, s2) match {
            case ("left", "right") => (a, b)
            case ("right", "left") => (b, a)
            case _ => fail(
              s"join key sides must be $$left and $$right, got $$$s1 / $$$s2")
          }
        case other => fail(
          s"join key must be a column name or `$$left.x == $$right.y`, got $other")
      }

    // -------------------------------------------------------- mv-apply
    //   mv-apply := [name '='] arrExpr 'on' '(' stage ('|' stage)* ')'
    //   ADX's per-row subquery: the array expands to one row per
    //   element (alias `name`, parent columns carried along), the
    //   parenthesized pipeline runs over the expanded rows, and the
    //   result IS the output — the element-level filter/derive idiom
    //   (`mv-apply d = todynamic(tags) on (where d.score > 0.5)`).
    //   This subset admits only ROW-WISE stages inside the subquery
    //   (where / extend / project family): they distribute over the
    //   per-row grouping, so explode-then-stage is exactly the ADX
    //   semantics with no row-identity bookkeeping. Aggregating stages
    //   (summarize/top/...) would need a per-parent-row regroup — out
    //   of subset, rejected loudly.
    private def applyMvApply(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      // split at the depth-0 `on`
      var depth = 0
      val onIdx = toks.indexWhere {
        case TSym("(") => depth += 1; false
        case TSym(")") => depth -= 1; false
        case TIdent("on") => depth == 0
        case _ => false
      }
      if (onIdx < 0) fail("mv-apply needs `on (subquery)`")
      val (head, tail) = (toks.take(onIdx), toks.drop(onIdx + 1))
      val (alias, arrE) = head match {
        case TIdent(n) +: TSym("=") +: e if e.nonEmpty => (n, parseArithToks(e))
        case Vector(TIdent(n)) => (n, col(n))
        case _ => fail("mv-apply takes `name = arrayExpr` or a bare array column")
      }
      val inner = tail match {
        case TSym("(") +: body :+ TSym(")") => body
        case _ => fail("mv-apply needs `on (subquery)`")
      }
      // validate the subquery's stage set BEFORE touching the frame, so
      // an out-of-subset stage fails as a parse error even when the
      // array expression itself would not resolve
      val stages = splitPipes(inner)
      stages.foreach {
        case TIdent(op) +: _ if Set("where", "project", "extend")(op) => ()
        case TIdent(op) +: _ =>
          fail(s"mv-apply subquery supports only where/extend/project stages, got '$op'")
        case _ => fail("malformed mv-apply subquery stage")
      }
      stages.foldLeft(df.withColumn(alias, explode(arrE)))(applyStage0)
    }

    // -------------------------------------------------------- serialize
    //   serialize item (',' item)*
    //   item := name '=' (row_number() | prev(col[, n]) | next(col[, n])
    //           | row_cumsum(expr))
    //   ADX's serialize freezes row order; the serialized-window family
    //   computes over the frozen sequence — row_number() numbers 1..N,
    //   prev/next are lag/lead (null beyond the edges, the ADX
    //   default), row_cumsum is the running sum over ROWS (not RANGE:
    //   ties must not sum together — each row sees strictly its
    //   prefix). This subset requires a PRECEDING `sort by` (an
    //   unsorted table has no deterministic order to freeze — the same
    //   reason ADX marks bare serialize results "unspecified") and
    //   computes over those sort keys.
    //
    //   Scale note: a global window is inherently sequential — ORDER BY
    //   with no PARTITION BY plans as a single-partition sort, the
    //   honest cost of the ADX semantic. For corpus-scale sequence
    //   numbering use the two-level prefix-sum shape (q_epoch_order /
    //   q_pack_sequences) instead of serialize.

    private def applySerialize(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val keys = lastSort.getOrElse(
        fail("serialize requires a preceding `sort by` (no deterministic order to freeze)"))
      val w = Window.orderBy(keys: _*)
      splitOn(toks, TSym(",")).foldLeft(df) { (d, item) =>
        item match {
          // row_rank_dense(t): number of distinct RUNS of t seen so far
          // in the frozen order = running count of change points.
          // row_rank_min(t): the row number where the current run of t
          // started. Both are run-based (a value that reappears after a
          // gap starts a NEW rank, per ADX) and compose from lag + a
          // ROWS-framed running aggregate — never a self-join. Spark
          // forbids nesting one window inside another, so the change
          // marker and row number materialize as scratch columns first.
          case TIdent(name) +: TSym("=") +: TIdent(fn) +: TSym("(") +: rest
              if (fn == "row_rank_dense" || fn == "row_rank_min") &&
                rest.lastOption.contains(TSym(")")) =>
            val inner = rest.dropRight(1)
            if (inner.isEmpty) fail(s"$fn needs a term")
            val t = parseArithToks(inner)
            val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val d1 = d
              .withColumn("__ser_rn", row_number().over(w))
              .withColumn("__ser_chg",
                when(lag(t, 1).over(w).isNull || lag(t, 1).over(w) =!= t, lit(1)))
            val e =
              if (fn == "row_rank_dense")
                sum(coalesce(col("__ser_chg"), lit(0))).over(run)
              else
                max(when(col("__ser_chg") === 1, col("__ser_rn"))).over(run)
            d1.withColumn(name, e).drop("__ser_rn", "__ser_chg")
          case TIdent(name) +: TSym("=") +: TIdent(fn) +: TSym("(") +: rest
              if rest.lastOption.contains(TSym(")")) =>
            val inner = rest.dropRight(1)
            val e = fn match {
              case "row_number" =>
                if (inner.nonEmpty) fail("row_number() takes no arguments")
                row_number()
              case "prev" | "next" =>
                val (colE, off) = splitOn(inner, TSym(",")) match {
                  case Vector(ce) => (parseArithToks(ce), 1)
                  case Vector(ce, Vector(TNum(n))) if !n.contains('.') =>
                    (parseArithToks(ce), n.toInt)
                  case _ => fail(s"$fn takes (column[, offset])")
                }
                if (fn == "prev") lag(colE, off) else lead(colE, off)
              case "row_cumsum" =>
                if (inner.isEmpty) fail("row_cumsum needs a term")
                sum(parseArithToks(inner))
              case other =>
                fail(s"unsupported serialize function '$other' " +
                  "(row_number/prev/next/row_cumsum/row_rank_dense/row_rank_min)")
            }
            val framed = fn match {
              case "row_cumsum" => e.over(w.rowsBetween(
                Window.unboundedPreceding, Window.currentRow))
              case _ => e.over(w)
            }
            d.withColumn(name, framed)
          case other =>
            fail(s"serialize items must be `name = fn(...)`, got $other")
        }
      }
    }

    // ------------------------------------------------------------ scan
    //   scan := ['declare' '(' decl (',' decl)* ')'] 'with' '(' step (';' step)* [';'] ')'
    //   decl := name ':' ('long'|'int') ['=' intLit]
    //   step := 'step' name ['repeats'] ':' predicate ['=>' asg (',' asg)*]
    //   asg  := x '=' x '+' intLit | x '=' x '-' intLit | x '=' intLit
    //   ADX's sequence-matching operator, restricted to the first-match
    //   funnel fragment: over the order a preceding `sort by` froze,
    //   step k admits exactly the FIRST row satisfying its predicate
    //   strictly after step k-1's matched row; matched rows are emitted
    //   with their original columns (a stalled chain still emits the
    //   prefix it matched — ADX's output=all default for a single
    //   non-repeating sequence).
    //
    //   GREEDY REPEATS (round 14, VERDICT r13 #3): `step s repeats:`
    //   absorbs the anchor row AND every CONSECUTIVE following row
    //   satisfying its predicate before the next step arms — the
    //   process-mining shape (a burst of views, then the purchase).
    //   Cost: ONE additional conditional-min window per repeating step
    //   (the first post-anchor VIOLATOR row; the absorbed range is
    //   [anchor, violator)), still no self-join, still k-ish window
    //   passes over a single sort. A null predicate row BREAKS the run
    //   (violator = NOT coalesce(pred, false) — spelled identically in
    //   the DuckDB twin). Declared state cannot combine with repeats:
    //   per-absorbed-row assignments make the post-step state
    //   data-dependent, which is outside the static-fold subset —
    //   rejected loudly. CONCURRENT matches (round 15): `scan
    //   with_match_id = m with (...)` dispatches to
    //   [[applyScanConcurrent]] — every step-1 row opens its own chain
    //   (overlap allowed); with_match_id cannot combine with declare
    //   or repeats (both rejected loudly).
    //
    //   DECLARE-STATE (round 13, VERDICT r12 #6): declared integer
    //   variables with step assignments restricted to the
    //   funnel-counter class — constant sets and literal increments/
    //   decrements of the variable ITSELF. Because each step matches
    //   exactly once per scan, the state after step k is a STATIC fold
    //   of the assignment chain — so the whole state machine compiles
    //   to one literal CASE over the matched step index (zero extra
    //   window passes; the "one more scratch column" plan). Output rows
    //   carry each variable's POST-assignment value at their step.
    //   General mutation (cross-variable reads, expression updates,
    //   data-dependent values) fails loudly.
    //
    //   Plan: rn = row_number over the frozen order, then ONE
    //   whole-frame conditional-min window per step (min(rn) where
    //   step-k predicate AND rn > r_{k-1}) — k window passes over a
    //   single sort, no self-join, no driver loop. Bare scan pays the
    //   serialize single-partition cost (the honest ADX semantic);
    //   `partition by Key (sort by ... | scan ...)` runs the identical
    //   cascade per key, fully distributed — the shape a per-entity
    //   funnel takes at corpus scale.
    private def applyScan(df: DataFrame, toks: Vector[Tok],
        part: Seq[Column], order: Option[Seq[Column]]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val keys = order.getOrElse(
        fail("scan requires a preceding `sort by` (no deterministic order to scan)"))
      // `scan with_match_id = m with (...)` selects the CONCURRENT
      // per-anchor semantics (round 15) — parsed here, dispatched
      // after the steps are known
      val (midName, toksM) = toks match {
        case TIdent("with_match_id") +: TSym("=") +: TIdent(n) +: rest =>
          (Some(n), rest)
        case _ => (None, toks)
      }
      val (decls, inner) = toksM match {
        case TIdent("declare") +: TSym("(") +: rest =>
          var depth = 1
          var idx = 0
          while (idx < rest.length && depth > 0) {
            rest(idx) match {
              case TSym("(") => depth += 1
              case TSym(")") => depth -= 1
              case _ => ()
            }
            idx += 1
          }
          if (depth != 0) fail("unbalanced parens in scan declare")
          val declToks = rest.take(idx - 1)
          val body = rest.drop(idx) match {
            case TIdent("with") +: TSym("(") +: b :+ TSym(")") => b
            case _ => fail("scan needs `with (step name: predicate; ...)` after declare")
          }
          (parseScanDecls(declToks, df), body)
        case TIdent("with") +: TSym("(") +: body :+ TSym(")") =>
          (Vector.empty[(String, Long)], body)
        case _ => fail("scan needs `with (step name: predicate; ...)`")
      }
      // ADX allows a trailing `;` after the last step
      val stepToks =
        if (inner.lastOption.contains(TSym(";"))) inner.dropRight(1) else inner
      val declared = decls.map(_._1).toSet
      def parseStep(name: String, repeats: Boolean,
          rest: Vector[Tok]): (String, Column, Vector[ScanAsg], Boolean) = {
        val (predToks, asgToks) = rest.indexOf(TSym("=>")) match {
          case -1 => (rest, Vector.empty[Tok])
          case ix => (rest.take(ix), rest.drop(ix + 1))
        }
        if (predToks.isEmpty) fail(s"scan step $name needs a predicate")
        val asgs =
          if (asgToks.isEmpty) Vector.empty[ScanAsg]
          else splitOn(asgToks, TSym(",")).map(a => parseScanAssign(a, declared, df))
        (name, parsePredicate(predToks), asgs, repeats)
      }
      val steps = splitOn(stepToks, TSym(";")).map {
        case TIdent("step") +: TIdent(name) +: TSym(":") +: rest if rest.nonEmpty =>
          parseStep(name, repeats = false, rest)
        case TIdent("step") +: TIdent(name) +: TIdent("repeats") +: TSym(":") +: rest
            if rest.nonEmpty =>
          parseStep(name, repeats = true, rest)
        case _ =>
          fail("scan steps must be `step name [repeats]: predicate [=> assignments]`")
      }
      if (steps.isEmpty) fail("scan needs at least one step")
      if (midName.isDefined) {
        if (decls.nonEmpty)
          fail("scan with_match_id cannot combine with declare: per-chain " +
            "state across overlapping matches is out of the static-fold subset")
        if (steps.exists(_._4))
          fail("scan with_match_id cannot combine with repeating steps: " +
            "a chain's absorption run is not well-defined under overlap")
        return applyScanConcurrent(df, steps.map(s => (s._1, s._2)),
          part, keys, midName.get)
      }
      if (decls.nonEmpty && steps.exists(_._4))
        fail("scan declare cannot combine with repeating steps: " +
          "per-absorbed-row state is data-dependent (out of the static-fold subset)")
      // state fold: each (non-repeating) step matches once, so the
      // value of every declared variable after step k is a
      // compile-time fold — literal arithmetic for the static class
      // (Catalyst constant-folds it back to the round-13 literal
      // CASE), anchored-value column references for the affine
      // data-dependent class (round 15)
      val wOrd =
        if (part.isEmpty) Window.orderBy(keys: _*)
        else Window.partitionBy(part: _*).orderBy(keys: _*)
      val wAll =
        if (part.isEmpty) Window.partitionBy()
        else Window.partitionBy(part: _*)
      val rn = col("__scan_rn")
      val base = df.withColumn("__scan_rn", row_number().over(wOrd))
      val marked = steps.zipWithIndex.foldLeft(base) { case (d, ((_, p, _, rep), i)) =>
        // rn > NULL is NULL, so a stalled previous step stalls this one;
        // arming compares against the previous step's absorption END
        // (== its anchor for non-repeating steps)
        val after = if (i == 0) lit(true) else rn > col(s"__scan_e${i - 1}")
        val d1 = d.withColumn(s"__scan_a$i", min(when(p && after, rn)).over(wAll))
        if (!rep) d1.withColumn(s"__scan_e$i", col(s"__scan_a$i"))
        else {
          // the absorbed range is [anchor, first violator): one extra
          // conditional-min window; a null-predicate row BREAKS the run
          val a = col(s"__scan_a$i")
          val viol = min(when(!coalesce(p, lit(false)) && rn > a, rn)).over(wAll)
          d1.withColumn(s"__scan_e$i",
            when(a.isNull, lit(null).cast("long"))
              .otherwise(coalesce(viol - 1, lit(Long.MaxValue))))
        }
      }
      // anchored-value columns for data-dependent assignments: one
      // extra window per expression over the SAME partitioning
      // broadcasts the matched row's value to the whole frame (min
      // over the single rn = a_i row) — no new shuffle, and a stalled
      // step leaves the value null exactly as it leaves a_i null
      val valued = steps.zipWithIndex.foldLeft(marked) {
        case (d, ((_, _, asgs, _), i)) =>
          asgs.zipWithIndex.foldLeft(d) {
            case (dd, (ScanAsgAdd(_, e, _), j)) => dd.withColumn(
              s"__scan_v${i}_$j", min(when(rn === col(s"__scan_a$i"), e)).over(wAll))
            case (dd, (ScanAsgSet(_, e), j)) => dd.withColumn(
              s"__scan_v${i}_$j", min(when(rn === col(s"__scan_a$i"), e)).over(wAll))
            case (dd, _) => dd
          }
      }
      val stateAfterC: Vector[Map[String, Column]] = {
        var cur: Map[String, Column] =
          decls.map { case (v, init) => v -> lit(init) }.toMap
        steps.zipWithIndex.map { case ((_, _, asgs, _), i) =>
          asgs.zipWithIndex.foreach { case (a, j) =>
            a match {
              case ScanAsgConst(v, value) => cur = cur.updated(v, lit(value))
              case ScanAsgInc(v, value) => cur = cur.updated(v, cur(v) + lit(value))
              case ScanAsgAdd(v, _, neg) =>
                val e = col(s"__scan_v${i}_$j")
                cur = cur.updated(v, if (neg) cur(v) - e else cur(v) + e)
              case ScanAsgSet(v, _) =>
                cur = cur.updated(v, col(s"__scan_v${i}_$j"))
            }
          }
          cur
        }
      }
      val isMatch = steps.zipWithIndex.map { case ((_, _, _, rep), i) =>
        if (rep) rn >= col(s"__scan_a$i") && rn <= col(s"__scan_e$i")
        else rn === col(s"__scan_a$i")
      }.reduce(_ || _)
      val matched = valued.filter(isMatch)
      val withState = decls.foldLeft(matched) { case (d, (vn, _)) =>
        val cases = steps.indices.map(i =>
          when(rn === col(s"__scan_a$i"), stateAfterC(i)(vn)))
        d.withColumn(vn, coalesce(cases: _*).cast("long"))
      }
      withState
        .drop(("__scan_rn" +: steps.zipWithIndex.flatMap { case ((_, _, asgs, _), i) =>
          Seq(s"__scan_a$i", s"__scan_e$i") ++
            asgs.indices.map(j => s"__scan_v${i}_$j")
        }): _*)
    }

    /** CONCURRENT matches (round 15, VERDICT r14 #5): `scan
      * with_match_id = m with (...)` — EVERY step-1 row opens its own
      * chain and chains advance independently: chain c's step-k event
      * is the EARLIEST row satisfying pred_k strictly after c's step
      * k−1 event, so multiple sequences are in flight at once and may
      * OVERLAP (share later-step rows). DIALECT vs ADX: ADX's scan
      * holds one state per step (the latest matching record rebinds
      * it); this per-anchor form is the process-mining reading — every
      * session start tracked to its own completion — which is what
      * overlapping-sessions questions actually ask. Output: one row
      * per (chain, matched step) carrying the original columns plus
      * the match-id column (the chain's 1-based anchor rank per
      * partition key); stalled chains emit the prefix they matched
      * (the output=all convention of the first-match scan).
      *
      * Plan: rn over the frozen sort, then ONE following-frame
      * conditional-min window per non-anchor step (nxt_k(r) = first
      * pred_k row at-or-after r) over the SAME single sort, then k−1
      * POSITION joins (e_k = nxt_k[e_{k−1}+1]) on the (partition, rn)
      * key — each co-partitioned and carrying only the chain frame
      * (anchor count × a few longs), never a self-join of the raw
      * stream against itself — and one membership join back for the
      * output rows. No driver loop; `partition by` distributes the
      * whole cascade per key; bare scan pays the single-partition
      * serialize cost (the honest ADX semantic).
      */
    private def applyScanConcurrent(df: DataFrame,
        steps: Vector[(String, Column)], part: Seq[Column],
        keys: Seq[Column], midName: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      if (df.columns.contains(midName))
        fail(s"scan with_match_id column '$midName' shadows an input column")
      val pkNames = part.indices.map(i => s"__scan_pk$i")
      val dfk = part.zipWithIndex.foldLeft(df) { case (d, (c, i)) =>
        d.withColumn(pkNames(i), c)
      }
      val wOrd =
        if (part.isEmpty) Window.orderBy(keys: _*)
        else Window.partitionBy(pkNames.map(col): _*).orderBy(keys: _*)
      val rn = col("__scan_rn")
      val withNxt = steps.zipWithIndex.drop(1).foldLeft(
        dfk.withColumn("__scan_rn", row_number().over(wOrd))) {
        case (d, ((_, p), i)) =>
          d.withColumn(s"__scan_nxt$i", min(when(p, rn)).over(
            wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      }
      val wAnchor =
        if (part.isEmpty) Window.orderBy(col("__scan_e0"))
        else Window.partitionBy(pkNames.map(col): _*).orderBy(col("__scan_e0"))
      var chain = withNxt.filter(steps(0)._2)
        .select((pkNames.map(col) :+ rn.as("__scan_e0")): _*)
        .withColumn(midName, row_number().over(wAnchor).cast("long"))
      for (i <- 1 until steps.length) {
        // e_i = nxt_i evaluated at position e_{i−1}+1; a stalled or
        // partition-final e_{i−1} left-joins to null (stall propagates)
        val nxt = withNxt.select((pkNames.map(n => col(n).as(n + "_r")) :+
          rn.as("__scan_p") :+ col(s"__scan_nxt$i").as(s"__scan_e$i")): _*)
        val cond = pkNames.map(n => col(n) === col(n + "_r"))
          .foldLeft(col(s"__scan_e${i - 1}") + 1 === col("__scan_p"))(_ && _)
        chain = chain.join(nxt, cond, "left")
          .drop((pkNames.map(_ + "_r") :+ "__scan_p"): _*)
      }
      val memb = steps.indices.map { i =>
        chain.filter(col(s"__scan_e$i").isNotNull)
          .select((pkNames.map(n => col(n).as(n + "_m")) :+
            col(s"__scan_e$i").as("__scan_mrn") :+ col(midName)): _*)
      }.reduce(_ unionByName _)
      val outCond = pkNames.map(n => col(n) === col(n + "_m"))
        .foldLeft(rn === col("__scan_mrn"))(_ && _)
      withNxt.join(memb, outCond)
        .select((df.columns.map(col) :+ col(midName)): _*)
    }

    /** `declare (x: long [= lit], ...)` — integer variables only (the
      * funnel-counter class); the default initializer is the typed
      * zero, per ADX. A declared name must not shadow an input column.
      */
    private def parseScanDecls(toks: Vector[Tok],
        df: DataFrame): Vector[(String, Long)] = {
      if (toks.isEmpty) fail("scan declare needs at least one variable")
      val seen = scala.collection.mutable.Set.empty[String]
      splitOn(toks, TSym(",")).map { d =>
        val (name, ty, init) = d match {
          case Vector(TIdent(n), TSym(":"), TIdent(t)) => (n, t, 0L)
          case Vector(TIdent(n), TSym(":"), TIdent(t), TSym("="), TNum(v)) =>
            (n, t, parseScanLong(v))
          case other =>
            fail(s"scan declare items must be `name: long [= intLit]`, got $other")
        }
        if (ty != "long" && ty != "int")
          fail(s"scan declare supports integer state only (long|int), got '$ty'")
        if (df.columns.contains(name))
          fail(s"scan declare variable '$name' shadows an input column")
        if (!seen.add(name))
          fail(s"scan declare variable '$name' is declared twice")
        (name, init)
      }
    }

    /** One step assignment. The admitted class (round 15 widens the
      * round-13 literal fold to the AFFINE DATA-DEPENDENT forms):
      *   - `x = lit` / `x = x ± lit` — the static counter class;
      *   - `x = x ± expr` / `x = expr` — expr any integer-typed
      *     scalar over INPUT columns (tolong(value), event_id, …).
      * Because each (non-repeating) step matches exactly once, the
      * state after step k is still a compile-time fold — now of the
      * per-step MATCHED-ROW expression values instead of literals.
      * Expressions reading declared variables (cross-variable state)
      * and non-additive self-reference stay out of the restricted
      * subset and fail loudly; non-integer expressions must be
      * wrapped (tolong) so the state column type is stable.
      */
    private sealed trait ScanAsg { def v: String }
    private case class ScanAsgConst(v: String, value: Long) extends ScanAsg
    private case class ScanAsgInc(v: String, value: Long) extends ScanAsg
    private case class ScanAsgAdd(v: String, e: Column, neg: Boolean)
      extends ScanAsg
    private case class ScanAsgSet(v: String, e: Column) extends ScanAsg

    private def parseScanAssign(toks: Vector[Tok], declared: Set[String],
        df: DataFrame): ScanAsg = {
      def checkNoVars(e: Vector[Tok]): Unit = e.foreach {
        case TIdent(n) if declared.contains(n) => fail(
          "scan assignment expressions cannot read declared variables — " +
            "cross-variable and non-additive self-referencing state is " +
            "out of the restricted subset")
        case _ =>
      }
      def compiled(e: Vector[Tok]): Column = {
        checkNoVars(e)
        val c = parseArithToks(e)
        val dt =
          try df.select(c).schema.head.dataType
          catch { case ex: org.apache.spark.sql.AnalysisException =>
            fail(s"scan assignment expression does not resolve: ${ex.getMessage}")
          }
        import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
        if (!Set[org.apache.spark.sql.types.DataType](
            ByteType, ShortType, IntegerType, LongType).contains(dt))
          fail("scan data-dependent state must be integer-typed — " +
            s"wrap the expression with tolong() (got ${dt.simpleString})")
        c
      }
      val out = toks match {
        case Vector(TIdent(x), TSym("="), TIdent(x2), TSym("+"), TNum(v)) if x == x2 =>
          ScanAsgInc(x, parseScanLong(v))
        case Vector(TIdent(x), TSym("="), TIdent(x2), TSym("-"), TNum(v)) if x == x2 =>
          ScanAsgInc(x, -parseScanLong(v))
        case Vector(TIdent(x), TSym("="), TNum(v)) =>
          ScanAsgConst(x, parseScanLong(v))
        case TIdent(x) +: TSym("=") +: TIdent(x2) +: TSym("+") +: e if x == x2 && e.nonEmpty =>
          ScanAsgAdd(x, compiled(e), neg = false)
        case TIdent(x) +: TSym("=") +: TIdent(x2) +: TSym("-") +: e if x == x2 && e.nonEmpty =>
          ScanAsgAdd(x, compiled(e), neg = true)
        case TIdent(x) +: TSym("=") +: e if e.nonEmpty =>
          ScanAsgSet(x, compiled(e))
        case other => fail(
          "scan step assignments are restricted to `x = x ± lit`, `x = lit`, " +
            s"`x = x ± expr`, or `x = expr` over a declared variable, got $other")
      }
      if (!declared.contains(out.v))
        fail(s"scan assignment target '${out.v}' is not declared")
      out
    }

    private def parseScanLong(v: String): Long =
      if (v.matches("-?\\d+")) v.toLong
      else fail(s"scan state literals must be integers, got '$v'")

    // ------------------------------------------------------ top-nested
    //   top-nested := clause (',' 'top' '-' 'nested' clause)*
    //   clause     := N 'of' keyCol 'by' [alias '='] aggCall
    //   Hierarchical top-N (ADX drill-down): level 1 keeps the top-N₁
    //   keys by their aggregate over the whole input; level 2 keeps the
    //   top-N₂ sub-keys WITHIN each kept level-1 key; and so on. Output
    //   carries every level's key and aggregate.
    //
    //   Plan: ONE pass — every level's aggregate is computed at its own
    //   grain in a single GROUPING SETS aggregate over the key-tuple
    //   prefixes (one corpus scan, one Expand + hash aggregate;
    //   grouping_id() separates the levels). Computing each grain
    //   directly — instead of rolling up finest-grain partials — is
    //   also what lets ANY summarize aggregate appear here, including
    //   non-decomposable ones (avg, dcount, percentile). The per-level
    //   cuts then operate on bounded rollup rows only: level 1 is a
    //   TakeOrderedAndProject, deeper levels a broadcast prefix-join +
    //   rank window over ≤ Π Nⱼ × |keys| rows. Determinism: ADX leaves
    //   aggregate ties unspecified; this cut breaks them by key
    //   ascending.
    //
    //   `with others = 'label'` (round 13): one extra row per surviving
    //   prefix bucketing the NON-top keys, value = complement total —
    //   computed as a per-prefix sum over the same bounded rollup rows
    //   (no second corpus pass), admitted for count()/sum() aggregates
    //   only (the decomposable class — an avg/dcount complement would
    //   need its own grain) and emitted only when a complement exists.
    //   A with-others level emits its key column as STRING (the label
    //   shares the column).

    private def applyTopNested(df0: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      case class Level(n: Int, key: String, aggName: String, agg: Column,
        others: Option[String] = None)
      val frags = splitOn(toks, TSym(","))
      val levels = frags.zipWithIndex.map { case (f, i) =>
        val body = if (i == 0) f
        else f match {
          case TIdent("top") +: TSym("-") +: TIdent("nested") +: rest => rest
          case _ => fail("top-nested clauses must each start with `top-nested`")
        }
        body match {
          case TNum(n) +: TIdent("of") +: TIdent(key) +: rest =>
            // optional ADX `with others = 'label'` before `by`
            val (others, afterWith) = rest match {
              case TIdent("with") +: TIdent("others") +: TSym("=") +:
                  TStr(lbl) +: t => (Some(lbl), t)
              case t => (None, t)
            }
            val aggToks = afterWith match {
              case TIdent("by") +: a => a
              case _ => fail("top-nested clause must be `N of key [with others = 'label'] by [alias =] agg()`")
            }
            val (alias, call) = aggToks match {
              case TIdent(a) +: TSym("=") +: c => (Some(a), c)
              case c => (None, c)
            }
            // the others bucket is total − kept — sound only for
            // DECOMPOSABLE aggregates; reject the rest loudly
            if (others.isDefined) call.headOption match {
              case Some(TIdent("count")) | Some(TIdent("sum")) => ()
              case other => fail(
                s"top-nested `with others` supports count()/sum() aggregates only, got $other")
            }
            val (dflt, agg) = parseAggCallNamed(call)
            Level(n.toInt, key, alias.getOrElse(dflt), agg, others)
          case _ => fail("top-nested clause must be `N of key [with others = 'label'] by [alias =] agg()`")
        }
      }
      // a with-others level emits its key column as STRING (the label
      // shares the column — ADX's dynamic column made typed); cast once
      // at the source so every grain and prefix-join sees one type
      val df = levels.filter(_.others.isDefined).map(_.key).distinct
        .foldLeft(df0)((d, k) => d.withColumn(k, col(k).cast("string")))
      // de-duplicate default output names (`by count(), ... by count()`
      // both default to count_): later collisions get a level suffix, as
      // ADX generates distinct aggregated_* names per level
      val seenNames = scala.collection.mutable.Set.empty[String]
      val levelsU = levels.zipWithIndex.map { case (l, i) =>
        val nm = if (seenNames.add(l.aggName)) l.aggName
        else { val u = s"${l.aggName}${i + 1}"; seenNames.add(u); u }
        l.copy(aggName = nm)
      }
      val keyCols = levelsU.map(_.key)
      val nLevels = levelsU.length
      // one grouping-sets aggregate over all key-tuple prefixes: set i
      // (prefix length i+1) carries level i's aggregate; grouping_id's
      // low bits mark the grouped-out suffix columns, so prefix length p
      // ⇒ gid = 2^(L-p) - 1 (never null-testing key values — a real
      // null key stays a legal group)
      // eagerly materialized (bounded: Σ per-grain cardinalities): every
      // level filters this table, and without the checkpoint each
      // consumer would re-derive the aggregate with its own pruned
      // column set — L corpus scans instead of one (the dupClusters
      // localCheckpoint idiom; PlanSpec pins the final plan corpus-free)
      val rolled = df
        .groupingSets(
          levelsU.indices.map(i => keyCols.take(i + 1).map(col)),
          keyCols.map(col): _*)
        .agg(levelsU.head.agg.as("__a0"),
          (levelsU.tail.zipWithIndex.map { case (l, i) => l.agg.as(s"__a${i + 1}") } :+
            grouping_id().as("__gid")): _*)
        .localCheckpoint(true)
      // with-others rows buffer per level and rejoin the final frame
      // with deeper columns null
      val othersBuf = Vector.newBuilder[DataFrame]
      val last = levelsU.zipWithIndex.foldLeft(Option.empty[DataFrame]) { case (prev, (l, i)) =>
        val p = i + 1
        val gid = (1 << (nLevels - p)) - 1
        val cur = rolled.filter(col("__gid") === gid)
          .select((keyCols.take(p).map(col) :+ col(s"__a$i").as(l.aggName)): _*)
        prev match {
          case None =>
            l.others match {
              case None =>
                // level 1's cut is a global top-N — TakeOrderedAndProject
                // (per-partition heap), never an empty-partition window
                Some(cur.orderBy(col(l.aggName).desc, col(l.key).asc).limit(l.n))
              case Some(lbl) =>
                // with-others needs the complement too: one rank window
                // over the BOUNDED level-1 table (grain-sized, never the
                // corpus); the others row is total-of-complement, only
                // emitted when a complement exists. Others rows do NOT
                // seed deeper levels (the label matches no data) — they
                // buffer and rejoin the final frame with deeper columns
                // null (the dialect's output contract).
                val ranked = cur.withColumn("__rn", row_number().over(
                  Window.orderBy(col(l.aggName).desc, col(l.key).asc)))
                val kept1 = ranked.filter(col("__rn") <= l.n).drop("__rn")
                othersBuf += ranked.filter(col("__rn") > l.n)
                  .agg(sum(col(l.aggName)).as(l.aggName), count(lit(1)).as("__cn"))
                  .filter(col("__cn") > 0)
                  .select(lit(lbl).as(l.key), col(l.aggName))
                Some(kept1)
            }
          case Some(kept) =>
            // restrict to the surviving prefix (broadcast — ≤ Π Nⱼ
            // rows), carry its aggregates along, cut within each prefix.
            // Prefix equality is null-SAFE: a NULL key that survived a
            // shallower cut must keep its whole sub-tree, and a plain
            // equality join would drop it
            val prefix = keyCols.take(i)
            val keptR = kept.toDF(kept.columns.map(c => s"__p_$c").toIndexedSeq: _*)
            val cond = prefix.map(k => col(k) <=> col(s"__p_$k")).reduce(_ && _)
            val carried = kept.columns.filterNot(prefix.contains).toSeq
            val w = Window.partitionBy(prefix.map(col): _*)
              .orderBy(col(l.aggName).desc, col(l.key).asc)
            val joined = cur.join(broadcast(keptR), cond)
              .withColumn("__rn", row_number().over(w))
            val keptRows = joined.filter(col("__rn") <= l.n)
              .select((prefix.map(col) ++
                carried.map(c => col(s"__p_$c").as(c)) ++
                Seq(col(l.key), col(l.aggName))): _*)
            l.others.foreach { lbl =>
              // per-prefix complement total (decomposable aggregates
              // only, enforced at parse), buffered for the final union
              othersBuf += joined.filter(col("__rn") > l.n)
                .groupBy((prefix.map(col) ++
                  carried.map(c => col(s"__p_$c").as(c))): _*)
                .agg(sum(col(l.aggName)).as(l.aggName))
                .withColumn(l.key, lit(lbl))
                .select((prefix.map(col) ++ carried.map(col) ++
                  Seq(col(l.key), col(l.aggName))): _*)
            }
            Some(keptRows)
        }
      }.get
      othersBuf.result().foldLeft(last)(
        (d, o) => d.unionByName(o, allowMissingColumns = true))
    }

    // ------------------------------------------- top-hitters / pivot /
    // getschema (tier 7)

    /** `top-hitters N of col [by sumCol]` — ADX's heavy-hitters
      * operator. ADX computes it with a count-min-sketch approximation;
      * this engine computes the EXACT answer (one map-side-combined
      * hash aggregate + TakeOrderedAndProject) and keeps ADX's
      * `approximate_*` output-column contract — the same documented
      * exact-for-approx swap as q_corpus_report's distincts, in the
      * other direction: exact is oracle-comparable, and the sketch
      * (q_heavy_hitters' bounded-bucket pruner) remains the 100 TB
      * drop-in when the group cardinality itself is the bottleneck.
      * Deterministic tie-break on the hitter column (ADX leaves ties
      * unspecified).
      */
    private def applyTopHitters(df: DataFrame, toks: Vector[Tok]): DataFrame =
      toks match {
        case TNum(k) +: TIdent("of") +: TIdent(c) +: rest =>
          val (aggCol, name) = rest match {
            case Vector() =>
              (count(lit(1)), s"approximate_count_$c")
            case Vector(TIdent("by"), TIdent(s0)) =>
              (sum(col(s0)), s"approximate_sum_$s0")
            case other => fail(s"top-hitters: expected `by column`, got $other")
          }
          val sketchOn = rest.isEmpty && s.conf
            .get("spark.graft.kql.topHittersSketch", "false").toBoolean
          if (sketchOn) topHittersSketch(df, c, name, k.toInt)
          else df.groupBy(c).agg(aggCol.as(name))
            .orderBy(col(name).desc, col(c))
            .limit(k.toInt)
        case _ => fail("top-hitters syntax: top-hitters N of col [by col]")
      }

    /** The 100 TB top-hitters path (spark.graft.kql.topHittersSketch) —
      * q_heavy_hitters' bounded-bucket prune generalized from a fixed
      * threshold to top-N, in two sound rounds so the exact groupBy's
      * hash table never has to hold the full key space:
      * (1) 1024 hashed-bucket counters (fixed memory, map-side
      * combined); exact-count ONLY the keys in the top-N buckets — the
      * N-th best of those true counts, c_N, lower-bounds the true N-th
      * key count T (candidates ⊆ keys ⇒ their N-th best ≤ T);
      * (2) a key with count ≥ T sits in a bucket counting ≥ T ≥ c_N, so
      * re-aggregating exactly the keys of buckets with count ≥ c_N
      * covers every true top-N key. The final cut orders true counts —
      * IDENTICAL output to the exact form (KqlSpec cross-checks), which
      * is why the exact twin remains the oracle. Count form only: a
      * `by` sum over possibly-negative values has no sound bucket
      * upper bound.
      */
    private def topHittersSketch(df: DataFrame, c: String, name: String,
        n: Int): DataFrame = {
      val keyed = df.select(col(c))
        .withColumn("__bkt", pmod(xxhash64(col(c)), lit(1024)))
      val buckets = keyed.groupBy("__bkt").agg(count(lit(1)).as("__bn"))
      val topB = buckets.orderBy(col("__bn").desc, col("__bkt"))
        .limit(n).select("__bkt")
      val cand = keyed.join(broadcast(topB), "__bkt")
        .groupBy(c).agg(count(lit(1)).as(name))
      val cN = cand.orderBy(col(name).desc, col(c)).limit(n)
        .agg(min(name).as("__cn"))
      val admit = buckets.crossJoin(broadcast(cN))
        .filter(col("__bn") >= col("__cn")).select("__bkt")
      keyed.join(broadcast(admit), "__bkt")
        .groupBy(c).agg(count(lit(1)).as(name))
        .orderBy(col(name).desc, col(c))
        .limit(n)
    }

    /** `evaluate pivot(pivotCol [, agg() [, byCol ...]])` — the ADX
      * pivot plugin: one output column per distinct pivot value. The
      * distinct value set is collected by Spark's own
      * `RelationalGroupedDataset.pivot` (a driver-side distinct bounded
      * by the pivot column's cardinality — the documented cost of a
      * schema that depends on the data; `spark.sql.pivotMaxValues`
      * bounds it), values become columns in SORTED order so the output
      * schema is deterministic. Absent (group, value) cells are null in
      * both ADX and Spark. When the group columns are omitted, ADX's
      * rule applies: every remaining column (all but the pivot column
      * and the aggregate's input) groups.
      */
    private def applyPivot(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val groups =
        if (toks.isEmpty) Vector.empty else splitOn(toks, TSym(","))
      if (groups.isEmpty || groups(0).isEmpty) fail("pivot() needs a pivot column")
      val pcol = groups(0) match {
        case Vector(TIdent(c)) => c
        case other => fail(s"pivot column must be a plain column, got $other")
      }
      val agg =
        if (groups.length >= 2) parseAggCall(groups(1))
        else count(lit(1)).as("count_")
      val aggInput: Option[String] =
        if (groups.length < 2) None
        else groups(1) match {
          case TIdent(_) +: TSym("(") +: rest :+ TSym(")") => rest match {
            case Vector(TIdent(c)) => Some(c)
            case _ => None
          }
          case _ => None
        }
      val by: Seq[String] =
        if (groups.length >= 3) groups.drop(2).map {
          case Vector(TIdent(c)) => c
          case other => fail(s"pivot group columns must be plain columns, got $other")
        }
        else df.columns.toSeq.filterNot(c => c == pcol || aggInput.contains(c))
      if (by.isEmpty) fail("pivot() needs at least one group column")
      df.groupBy(by.map(col): _*).pivot(pcol).agg(agg)
    }

    /** Shared front half of the activity plugins: parse
      * (IdColumn, TimelineColumn, Start, End) and return the projected
      * in-range frame as (__id, __b) with the bin anchored at Start —
      * exact epoch-µs integer arithmetic, the make-series convention.
      * The range filter compares the raw timestamp column against
      * foldable literals so it reaches PushedFilters (row-group
      * pruning), exactly like applyMakeSeries.
      */
    private def activityBase(df: DataFrame, args: Vector[Vector[Tok]],
        stepUs: Long,
        extra: Seq[(String, String)] = Nil): (DataFrame, Column, Column) = {
      val idName = args(0) match {
        case Vector(TIdent(c)) => c
        case o => fail(s"activity plugin IdColumn must be a plain column, got $o")
      }
      val tsName = args(1) match {
        case Vector(TIdent(c)) => c
        case o => fail(s"activity plugin TimelineColumn must be a plain column, got $o")
      }
      val fromUs = unix_micros(parseArithToks(args(2)).cast("timestamp"))
      val toUs = unix_micros(parseArithToks(args(3)).cast("timestamp"))
      // validate Start < End LOUDLY: the bounds are (almost always)
      // datetime literals ± timespans — folded DRIVER-SIDE on the raw
      // tokens (a 1-row Spark job here costs a fresh codegen compile
      // per plugin call — measured ~0.3 s on q_kql_retention); the job
      // path remains as the fallback for exotic bound expressions.
      // Without the check the timeline sequence() fails at runtime
      // with an opaque 'Illegal sequence boundaries' instead of the
      // plugins' argument-validation contract
      def litBoundUs(ts: Vector[Tok]): Option[Long] = ts match {
        case Vector(TDate(us)) => Some(us)
        case Vector(TDate(us), TSym("+"), TSpan(d)) => Some(us + d)
        case Vector(TDate(us), TSym("-"), TSpan(d)) => Some(us - d)
        case _ => None
      }
      val boundsOk = (litBoundUs(args(2)), litBoundUs(args(3))) match {
        case (Some(f), Some(t)) => t > f
        case _ =>
          // evaluate exotic bound expressions against df itself so a
          // bound referencing an input column still resolves —
          // range(1) would fail analysis on it (ADVICE r13). The
          // verdict must be ROW-INDEPENDENT (a limit(1) probe picks an
          // arbitrary row; ADVICE r14), so aggregate: min over
          // booleans = bool_and — Start < End must hold against EVERY
          // row the bound could bind to. One map-side-combinable pass,
          // and only on the exotic-bound fallback path (literal bounds
          // fold driver-side above). An EMPTY input passes vacuously
          // (null min): the plugin output is empty regardless.
          val probe = df
            .select(coalesce(toUs > fromUs, lit(false)).as("ok"))
            .agg(min(col("ok")).as("ok")).collect()
          probe(0).isNullAt(0) || probe(0).getBoolean(0)
      }
      if (!boundsOk)
        fail("activity plugin requires Start < End (and both parseable as datetime)")
      val tsc = col(tsName).cast("timestamp")
      val u = unix_micros(tsc)
      val inRange = df
        .filter(tsc >= timestamp_micros(fromUs) && tsc < timestamp_micros(toUs))
        .select((Seq(col(idName).as("__id"),
          (u - pmod(u - fromUs, lit(stepUs))).as("__b")) ++
          extra.map { case (src, alias) => col(src).as(alias) }): _*)
      (inRange, fromUs, toUs)
    }

    /** The bounded timeline grid [from, to) stepped by `stepUs` — one
      * foldable sequence() off a 1-row frame, broadcast-joined against
      * the (bins × small) aggregates; bins with no activity fill as 0.
      */
    private def activityGrid(s: SparkSession, fromUs: Column, toUs: Column,
        stepUs: Long): DataFrame =
      s.range(1).select(
        explode(sequence(fromUs, toUs - lit(1), lit(stepUs))).as("__b"))

    /** ADX `evaluate activity_counts_metrics(Id, Timeline, Start, End,
      * Step)` — per timeline bin: total activities, distinct actors,
      * NEW actors (first-ever bin = this bin), and the cumulative
      * distinct actor count. The 100 TB shape: the corpus is touched by
      * two hash aggregates (per-bin counts; per-id first bin — both
      * map-side combinable), and everything after runs on the BOUNDED
      * bin axis: new_dcount is a count over the per-id firsts, and
      * aggregated_dcount is a prefix sum over #bins rows — the window's
      * single-partition sort is a bin-count-sized frame, never the
      * corpus. Timeline emitted as epoch-µs (the q_kql_timebin
      * convention).
      */
    private def applyActivityCounts(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val args = splitOn(toks, TSym(","))
      if (args.length != 5)
        fail("activity_counts_metrics(IdColumn, TimelineColumn, Start, End, Step)")
      val stepUs = args(4) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"activity_counts_metrics Step must be a positive timespan, got $o")
      }
      val (inRange, fromUs, toUs) = activityBase(df, args, stepUs)
      val perBin = inRange.groupBy("__b")
        .agg(count(lit(1)).as("__n"), countDistinct(col("__id")).as("__dc"))
      val firstBin = inRange.groupBy("__id").agg(min(col("__b")).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("__new"))
      activityGrid(df.sparkSession, fromUs, toUs, stepUs)
        .join(perBin, Seq("__b"), "left")
        .join(firstBin, Seq("__b"), "left")
        .select(col("__b").as("bin_us"),
          coalesce(col("__n"), lit(0L)).as("n_rows"),
          coalesce(col("__dc"), lit(0L)).as("dcount"),
          coalesce(col("__new"), lit(0L)).as("new_dcount"))
        .withColumn("agg_dcount",
          sum(col("new_dcount")).over(
            Window.orderBy("bin_us").rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
    }

    /** ADX `evaluate activity_engagement(Id, Timeline, Start, End,
      * InnerWindow, OuterWindow)` — the DAU/WAU family: per inner-window
      * bin, distinct actors in the bin vs distinct actors in the
      * TRAILING outer window ending at that bin, and their ratio. The
      * sliding outer distinct never rescans the corpus: the corpus
      * collapses once to distinct (id, bin) pairs, and each pair then
      * fans out to the ≤ outer/inner bins it can serve (bounded
      * replication — the standard trailing-window-distinct trick),
      * followed by one more distinct aggregate. The ratio divides two
      * exact integers, so the double is engine-identical.
      */
    private def applyActivityEngagement(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val args = splitOn(toks, TSym(","))
      if (args.length != 6)
        fail("activity_engagement(IdColumn, TimelineColumn, Start, End, InnerWindow, OuterWindow)")
      val innerUs = args(4) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"activity_engagement InnerWindow must be a positive timespan, got $o")
      }
      val outerUs = args(5) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"activity_engagement OuterWindow must be a positive timespan, got $o")
      }
      if (outerUs % innerUs != 0)
        fail("activity_engagement OuterWindow must be a multiple of InnerWindow")
      val r = (outerUs / innerUs).toInt
      val (inRange, fromUs, toUs) = activityBase(df, args, innerUs)
      val pairs = inRange.distinct()
      val inner = pairs.groupBy("__b").agg(count(lit(1)).as("__in"))
      // an actor active in bin b is "outer-active" for bins b .. b+r-1
      val outer = pairs
        .select(col("__id"), explode(sequence(col("__b"),
          col("__b") + lit((r - 1) * innerUs), lit(innerUs))).as("__b"))
        .groupBy("__b").agg(countDistinct(col("__id")).as("__out"))
      activityGrid(df.sparkSession, fromUs, toUs, innerUs)
        .join(inner, Seq("__b"), "left")
        .join(outer, Seq("__b"), "left")
        .select(col("__b").as("bin_us"),
          coalesce(col("__in"), lit(0L)).as("dcount_inner"),
          coalesce(col("__out"), lit(0L)).as("dcount_outer"))
        .withColumn("activity_ratio",
          when(col("dcount_outer") > 0,
            col("dcount_inner").cast("double") / col("dcount_outer").cast("double"))
            .otherwise(lit(0.0)))
    }

    /** ADX `evaluate sliding_window_counts(IdColumn, TimelineColumn,
      * Start, End, LookbackWindow, Bin)` (round 14) — per timeline
      * bin, the event count and the distinct-actor count over the
      * TRAILING lookback window (the "active in the last N days"
      * dashboard row). The 100 TB shape is the engagement trick: the
      * corpus collapses once to per-bin counts / distinct (actor, bin)
      * pairs, and the sliding window is the bounded ≤(lookback/bin)×
      * fanout of those — never a rescan, never a row-frame window over
      * the corpus. Lookback must be a multiple of Bin (the ADX grid
      * contract); bins emit zero-filled over [Start, End).
      */
    private def applySlidingWindow(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val args = splitOn(toks, TSym(","))
      if (args.length != 6)
        fail("sliding_window_counts(IdColumn, TimelineColumn, Start, End, LookbackWindow, Bin)")
      val lookUs = args(4) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"sliding_window_counts LookbackWindow must be a positive timespan, got $o")
      }
      val binUs = args(5) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"sliding_window_counts Bin must be a positive timespan, got $o")
      }
      if (lookUs % binUs != 0)
        fail("sliding_window_counts LookbackWindow must be a multiple of Bin")
      // the lookback/bin ratio IS the per-row fanout factor of the
      // window explode below — validate it BEFORE the .toInt narrowing
      // (a sub-second Bin with a long Lookback would wrap negative and
      // die in sequence() instead of here; ADVICE r14), and cap it so
      // the fanout stays sane
      if (lookUs / binUs > 1000000L)
        fail(s"sliding_window_counts LookbackWindow/Bin ratio ${lookUs / binUs} " +
          "exceeds the supported window fanout (1e6 bins per lookback)")
      val r = (lookUs / binUs).toInt
      val (inRange, fromUs, toUs) = activityBase(df, args, binUs)
      // an event in bin b is window-visible for bins b .. b+r-1
      val cnts = inRange.groupBy("__b").agg(count(lit(1)).as("__c"))
        .select(col("__c"), explode(sequence(col("__b"),
          col("__b") + lit((r - 1) * binUs), lit(binUs))).as("__b"))
        .groupBy("__b").agg(sum(col("__c")).as("__cnt"))
      val dcnt = inRange.distinct()
        .select(col("__id"), explode(sequence(col("__b"),
          col("__b") + lit((r - 1) * binUs), lit(binUs))).as("__b"))
        .groupBy("__b").agg(countDistinct(col("__id")).as("__d"))
      activityGrid(df.sparkSession, fromUs, toUs, binUs)
        .join(cnts, Seq("__b"), "left")
        .join(dcnt, Seq("__b"), "left")
        .select(col("__b").as("bin_us"),
          coalesce(col("__cnt"), lit(0L)).as("count_"),
          coalesce(col("__d"), lit(0L)).as("dcount"))
    }

    /** ADX `evaluate new_activity_metrics(Id, Timeline, Start, End,
      * Window)` — cohort retention: cohort = an actor's first-seen
      * window inside [Start, End); for each (cohort, periods-since)
      * cell, the retained distinct actors, the cohort size, and their
      * ratio. DIALECT: ADX's plugin emits a wide activity/churn column
      * battery; this engine emits the canonical retention-triangle
      * projection (cohort_us, period, retained, cohort_size,
      * retention) — the columns every saved retention query actually
      * consumes, flat and array-free. Scale shape = the native
      * q_retention_cohorts: corpus → distinct (actor, window) pairs
      * once; first-seen is a map-side-combinable min; the cohort join
      * returns on the SAME actor key; the cell aggregate runs on the
      * bounded cohort×period grid. The ratio divides exact integers —
      * engine-identical doubles.
      */
    private def applyNewActivityMetrics(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val args = splitOn(toks, TSym(","))
      if (args.length != 5)
        fail("new_activity_metrics(IdColumn, TimelineColumn, Start, End, Window)")
      val stepUs = args(4) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"new_activity_metrics Window must be a positive timespan, got $o")
      }
      val (inRange, _, _) = activityBase(df, args, stepUs)
      val pairs = inRange.distinct()
      val cohorts = pairs.groupBy("__id").agg(min(col("__b")).as("__c"))
      val sizes = cohorts.groupBy("__c").agg(count(lit(1)).as("__size"))
      pairs.join(cohorts, "__id")
        .groupBy(col("__c"),
          ((col("__b") - col("__c")) / lit(stepUs)).cast("long").as("period"))
        .agg(count(lit(1)).as("retained"))
        .join(sizes, "__c")
        .select(col("__c").as("cohort_us"), col("period"), col("retained"),
          col("__size").as("cohort_size"),
          (col("retained").cast("double") / col("__size").cast("double"))
            .as("retention"))
    }

    /** ADX `evaluate basket([Threshold])` — frequent-pattern mining
      * over the pipeline's current columns: emit every attribute
      * PATTERN (a subset of columns fixed to values, the rest
      * wildcard) covering at least Threshold (default 5%) of the
      * rows. The Spark-native mapping is exact: `cube` over all
      * columns enumerates every pattern with its count in ONE pass
      * (the Expand operator — map-side combinable, no Apriori
      * candidate generation needed at this arity), the grand-total
      * row IS the denominator, and the threshold filter runs on the
      * bounded cube result. NULL in an output column = wildcard (the
      * ADX shape); input rows with genuine NULLs are excluded up
      * front so the two meanings cannot conflate — documented
      * dialect. Capped at 5 pattern columns: 2⁵ Expand replication is
      * the honest cost ceiling; beyond that ADX itself samples.
      */
    private def applyBasket(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val threshold = toks match {
        case Vector() => 0.05
        case Vector(TNum(v)) =>
          val t = v.toDouble
          if (t <= 0 || t > 1) fail(s"basket threshold must be in (0, 1], got $t")
          t
        case other => fail(s"basket() takes at most one numeric threshold, got $other")
      }
      val cols = df.columns.toSeq
      if (cols.isEmpty || cols.length > 5)
        fail(s"basket() needs 1-5 pattern columns in scope, got ${cols.length} — project first")
      val clean = df.na.drop(cols)
      val cubed = clean.cube(cols.map(col): _*).agg(count(lit(1)).as("cnt"))
      // the grand-total pattern (all wildcards) is the denominator —
      // lift it across the BOUNDED cube result with one unpartitioned
      // window (rows = product of per-column cardinalities + 1, never
      // the corpus)
      val allNull = cols.map(c => col(c).isNull).reduce(_ && _)
      val total = max(when(allNull, col("cnt"))).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      cubed.withColumn("__total", total)
        .filter(col("cnt") >= ceil(col("__total") * lit(threshold)) && !allNull)
        .select((cols.map(col) :+ col("cnt") :+
          (col("cnt").cast("double") / col("__total").cast("double"))
            .as("percent")): _*)
        .orderBy((col("cnt").desc +: cols.map(c => asc_nulls_first(c))): _*)
    }

    /** ADX `evaluate autocluster([SizeWeight])` — segment mining: the
      * common attribute patterns (null = wildcard) that cover a
      * significant share of the input, pruned so a generic pattern is
      * dropped when a STRICTLY more specific refinement keeps ≥ half
      * its rows (the dominance rule — autocluster's reason to exist
      * over a plain frequency cut). Spark-native mapping (round 13,
      * proven by basket in round 12): ONE cube aggregate over ≤5
      * pattern columns; everything after the cube runs on the BOUNDED
      * pattern table (≤ Π(|col|+1) rows, never the corpus) — coverage
      * filter, dominance anti-join (broadcast), segment numbering over
      * a pattern-table-sized window. DIALECT: ADX's SizeWeight trades
      * segment size against informativeness inside its heuristic
      * search; here it maps monotonically to the coverage cut
      * (SizeWeight/10 — 5% at the ADX default 0.5), and rows with
      * genuine NULLs are excluded up front so null-as-wildcard cannot
      * conflate (the basket rule). Output follows ADX: SegmentId
      * (0-based, by falling count), count, percent, then the pattern
      * columns.
      */
    private def applyAutocluster(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = toks match {
        case Vector() => 0.5
        case Vector(TNum(v)) =>
          val t = v.toDouble
          if (t <= 0 || t > 1) fail(s"autocluster SizeWeight must be in (0, 1], got $t")
          t
        case other => fail(s"autocluster() takes at most one numeric SizeWeight, got $other")
      }
      val minCov = w / 10 // 5% at the ADX default 0.5
      val cols = df.columns.toSeq
      if (cols.isEmpty || cols.length > 5)
        fail(s"autocluster() needs 1-5 pattern columns in scope, got ${cols.length} — project first")
      val allNull = cols.map(col(_).isNull).reduce(_ && _)
      val clean = df.na.drop(cols)
      // bounded result, fans into total + both dominance sides — the
      // checkpoint stops each consumer re-deriving the corpus Expand
      val cubed = clean.cube(cols.map(col): _*)
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val total = cubed.filter(allNull).select(col("cnt").as("__total"))
      val pats = cubed.filter(!allNull)
        .crossJoin(broadcast(total))
        .filter(col("cnt") >= ceil(col("__total") * lit(minCov)))
        .withColumn("__spec", patternSpec(cols))
      val kept = dominancePrune(pats, cols, col("cnt"))
      val ord = col("cnt").desc +: cols.map(c => col(c).asc_nulls_first)
      kept.withColumn("segment_id",
          row_number().over(Window.orderBy(ord: _*)).cast("long") - 1)
        .select((Seq(col("segment_id"), col("cnt").as("count_"),
          (col("cnt").cast("double") / col("__total").cast("double")).as("percent")) ++
          cols.map(col)): _*)
        .orderBy("segment_id")
    }

    /** Specificity of a cube pattern row = its non-wildcard attribute
      * count (nulls were excluded from the input, so null ⇔ wildcard).
      */
    private def patternSpec(cols: Seq[String]): Column =
      cols.map(c => col(c).isNotNull.cast("long")).reduce(_ + _)

    /** The segment-mining dominance prune shared by autocluster and
      * diffpatterns: drop a pattern when a STRICTLY more specific
      * refinement (every concrete attribute matched, higher `__spec`)
      * keeps ≥ half of `cnt`. `pats` must carry `__spec`; the
      * comparison side is broadcast (bounded pattern table).
      */
    private def dominancePrune(pats: DataFrame, cols: Seq[String],
        cnt: Column): DataFrame = {
      val qd = pats.select((cols.map(c => col(c).as("__q_" + c)) :+
        cnt.as("__q_cnt") :+ col("__spec").as("__q_spec")): _*)
      pats.join(broadcast(qd),
        cols.map(c => col(c).isNull || col("__q_" + c) === col(c)).reduce(_ && _) &&
          col("__q_spec") > col("__spec") &&
          col("__q_cnt") * 2 >= cnt,
        "left_anti")
    }

    /** ADX `evaluate diffpatterns(SplitColumn, 'ValueA', 'ValueB')` —
      * the patterns that DIFFERENTIATE two cohorts: the same cube +
      * coverage + dominance machinery as [[applyAutocluster]], but the
      * single count splits into per-cohort conditional counts in the
      * SAME one pass (two sum(when) aggregates — never two cubes), the
      * coverage cut applies on EITHER side, dominance ranks on the
      * combined count, and the output ranks by |percent_a − percent_b|
      * (the differentiation signal). Divisions are guarded (a cohort
      * with zero rows reads 0.0, the activity_ratio rule).
      */
    private def applyDiffpatterns(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val (splitCol, va, vb) = splitOn(toks, TSym(",")) match {
        case Vector(Vector(TIdent(c)), Vector(TStr(a)), Vector(TStr(b))) =>
          if (a == b) fail("diffpatterns split values must differ")
          (c, a, b)
        case other =>
          fail(s"diffpatterns(SplitColumn, 'ValueA', 'ValueB') — got $other")
      }
      if (!df.columns.contains(splitCol))
        fail(s"diffpatterns split column '$splitCol' not in scope")
      val cols = df.columns.toSeq.filterNot(_ == splitCol)
      if (cols.isEmpty || cols.length > 5)
        fail(s"diffpatterns() needs 1-5 pattern columns beside the split, got ${cols.length}")
      val allNull = cols.map(col(_).isNull).reduce(_ && _)
      val clean = df.filter(col(splitCol).isin(va, vb)).na.drop(cols)
      val cubed = clean.cube(cols.map(col): _*)
        .agg(sum(when(col(splitCol) === va, 1L).otherwise(0L)).as("count_a"),
          sum(when(col(splitCol) === vb, 1L).otherwise(0L)).as("count_b"))
        .localCheckpoint(true)
      val total = cubed.filter(allNull)
        .select(col("count_a").as("__ta"), col("count_b").as("__tb"))
      val pats = cubed.filter(!allNull)
        .crossJoin(broadcast(total))
        .filter(col("count_a") >= ceil(col("__ta") * lit(0.05)) ||
          col("count_b") >= ceil(col("__tb") * lit(0.05)))
        .withColumn("__spec", patternSpec(cols))
      val kept = dominancePrune(pats, cols, col("count_a") + col("count_b"))
      def pct(cn: Column, tot: Column): Column =
        when(tot > 0, cn.cast("double") / tot.cast("double")).otherwise(lit(0.0))
      val withPct = kept
        .withColumn("percent_a", pct(col("count_a"), col("__ta")))
        .withColumn("percent_b", pct(col("count_b"), col("__tb")))
        .withColumn("percent_diff", col("percent_a") - col("percent_b"))
      val ord = abs(col("percent_diff")).desc +:
        (col("count_a") + col("count_b")).desc +:
        cols.map(c => col(c).asc_nulls_first)
      withPct.withColumn("segment_id",
          row_number().over(Window.orderBy(ord: _*)).cast("long") - 1)
        .select((Seq(col("segment_id"), col("count_a"), col("count_b"),
          col("percent_a"), col("percent_b"), col("percent_diff")) ++
          cols.map(col)): _*)
        .orderBy("segment_id")
    }

    /** ADX `evaluate funnel_sequence_completion(Id, Timeline, Start,
      * End, State, Sequence, MaxStepWindow)` — the WINDOWED ordered
      * funnel: an actor completes step k+1 only with an event of the
      * k+1-th state STRICTLY after their step-k completion and within
      * MaxStepWindow of it (the un-windowed chain is the native
      * q_funnel_steps). DIALECT, two deliberate deviations: (1) ADX
      * bins completions per period; this engine emits the funnel
      * summary (step, stage, n_users, step-to-step conversion) — the
      * columns funnel dashboards consume. (2) Each stage anchors at
      * the actor's EARLIEST completion of the previous stage — the
      * conservative funnel: a later re-entry into stage k does NOT
      * reopen the window for stage k+1 (full re-entrant sequence
      * matching needs a per-actor event walk; the KqlSpec pins this
      * semantics with an explicit re-entry case). Scale shape: each
      * stage is a pushed state filter + a
      * per-actor min aggregate, chained by co-keyed actor joins — the
      * corpus is scanned once per stage (bounded by sequence length),
      * never windowed or all-paired; the conversion window runs on
      * |sequence| rows.
      */
    private def applyFunnelCompletion(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val args = splitOn(toks, TSym(","))
      if (args.length != 7)
        fail("funnel_sequence_completion(IdColumn, TimelineColumn, Start, End, StateColumn, Sequence, MaxStepWindow)")
      val stateName = args(4) match {
        case Vector(TIdent(c)) => c
        case o => fail(s"funnel StateColumn must be a plain column, got $o")
      }
      val stages: Vector[String] = args(5) match {
        case TIdent("dynamic") +: TSym("(") +: TSym("[") +: mid
            if mid.endsWith(Vector(TSym("]"), TSym(")"))) =>
          splitOn(mid.dropRight(2), TSym(",")).map {
            case Vector(TStr(v)) => v
            case other => fail(s"funnel Sequence items must be string literals, got $other")
          }
        case other => fail(s"funnel Sequence must be dynamic(['s1', ...]), got $other")
      }
      if (stages.length < 2) fail("funnel Sequence needs at least two stages")
      val windowUs = args(6) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"funnel MaxStepWindow must be a positive timespan, got $o")
      }
      // the shared activity front half with a 1-µs "bin" = the raw
      // event time (pmod by 1 is 0), plus the state column carried
      // through the projection
      val (base0, _, _) = activityBase(df, args, 1L, Seq(stateName -> "__st"))
      val base = base0.withColumnRenamed("__b", "__t")
      var reached = base.filter(col("__st") === stages(0))
        .groupBy("__id").agg(min(col("__t")).as("__tk"))
      def summary(idx: Int, d: DataFrame): DataFrame =
        d.agg(count(lit(1)).as("n_users"))
          .select(lit(idx + 1).as("step"), lit(stages(idx)).as("stage"),
            col("n_users"))
      var out = summary(0, reached)
      stages.indices.drop(1).foreach { k =>
        val prev = reached.withColumnRenamed("__tk", "__tp")
        reached = base.filter(col("__st") === stages(k))
          .join(prev, "__id")
          .filter(col("__t") > col("__tp") &&
            col("__t") <= col("__tp") + lit(windowUs))
          .groupBy("__id").agg(min(col("__t")).as("__tk"))
        out = out.unionByName(summary(k, reached))
      }
      out.withColumn("conversion", {
        // guarded lag (the activity_ratio pattern): a 0-completer
        // stage must yield 0.0, not Spark NaN vs DuckDB's
        // version-dependent ÷0 result
        val prevN = coalesce(
          lag(col("n_users"), 1).over(Window.orderBy("step")),
          col("n_users"))
        when(prevN > 0,
          col("n_users").cast("double") / prevN.cast("double"))
          .otherwise(lit(0.0))
      })
        .orderBy("step")
    }

    /** ADX `evaluate sequence_detect(TimelineColumn,
      * MaxSequenceStepWindow, MaxSequenceSpan, Expr1, …, ExprN,
      * Dim1, …, DimM)` (round 14, VERDICT r13 #4) — per-entity ordered
      * event-sequence matching with time bounds, compiled onto the
      * funnel conditional-min chain: step k's event is the EARLIEST row
      * satisfying Expr_k strictly after step k−1's event and within
      * MaxSequenceStepWindow of it; a detected sequence must span at
      * most MaxSequenceSpan end to end. DIALECT: earliest-anchor —
      * which CAN UNDER-DETECT vs ADX: fixing step k to the earliest
      * satisfying row can miss a sequence a LATER anchor would have
      * completed within the step window (greedy, not backtracking) —
      * and one occurrence per entity (the applyFunnelCompletion rule —
      * ADX can re-detect after completion; the first occurrence is the
      * one retention/abuse queries act on). Timelines emit as epoch-µs
      * columns s1_timeline…sN_timeline plus duration_us (the
      * q_kql_timebin convention). Trailing plain-column args are the
      * Dims; everything between the span and the Dims must be a
      * predicate. The 100 TB shape: one hash aggregate per step over
      * the (pred-filtered) corpus keyed by the Dims — map-side
      * combinable, no windows, no self-joins on the raw stream.
      */
    private def applySequenceDetect(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val args = splitOn(toks, TSym(","))
      if (args.length < 5)
        fail("sequence_detect(TimelineColumn, MaxSequenceStepWindow, " +
          "MaxSequenceSpan, Expr1, Expr2, ..., Dim1, ...)")
      val tsName = args(0) match {
        case Vector(TIdent(c)) => c
        case o => fail(s"sequence_detect TimelineColumn must be a plain column, got $o")
      }
      def spanArg(ix: Int, what: String): Long = args(ix) match {
        case Vector(TSpan(us)) if us > 0 => us
        case o => fail(s"sequence_detect $what must be a positive timespan, got $o")
      }
      val stepUs = spanArg(1, "MaxSequenceStepWindow")
      val spanUs = spanArg(2, "MaxSequenceSpan")
      val tail0 = args.drop(3)
      def isDim(a: Vector[Tok]) = a match {
        case Vector(TIdent(_)) => true
        case _ => false
      }
      val dims = tail0.reverse.takeWhile(isDim).reverse
        .map { case Vector(TIdent(c)) => c case _ => fail("unreachable") }
      val exprToks = tail0.dropRight(dims.length)
      if (exprToks.length < 2)
        fail("sequence_detect needs at least two step expressions " +
          "(a bare column name parses as a Dim — write a boolean column as `c == true`)")
      val preds = exprToks.map(parsePredicate)
      val u = unix_micros(col(tsName).cast("timestamp"))
      val base = df.select(dims.map(col) ++ Seq(u.as("__t")) ++
        preds.zipWithIndex.map { case (p, i) => p.as(s"__p$i") }: _*)
      var reached = base.filter(col("__p0"))
        .groupBy(dims.map(col): _*).agg(min(col("__t")).as("__t0"))
      for (k <- 1 until preds.length) {
        val carried = dims ++ (0 until k).map(i => s"__t$i")
        val joined =
          if (dims.isEmpty) base.filter(col(s"__p$k")).crossJoin(broadcast(reached))
          else base.filter(col(s"__p$k")).join(reached, dims)
        reached = joined
          .filter(col("__t") > col(s"__t${k - 1}") &&
            col("__t") <= col(s"__t${k - 1}") + lit(stepUs))
          .groupBy(carried.map(col): _*).agg(min(col("__t")).as(s"__t$k"))
      }
      val n = preds.length
      reached
        .filter(col(s"__t${n - 1}") - col("__t0") <= lit(spanUs))
        .select(dims.map(col) ++ (0 until n).map(i =>
          col(s"__t$i").as(s"s${i + 1}_timeline")) :+
          (col(s"__t${n - 1}") - col("__t0")).as("duration_us"): _*)
    }

    /** ADX `evaluate dcount_intersect(IdColumn, Expr1, …, ExprN)`
      * (round 14, VERDICT r13 #4) — cumulative-intersection distinct
      * counts: s0 = |ids in set 1|, s1 = |set 1 ∩ set 2|, … an id is in
      * set i when ANY of its rows satisfies Expr_i. DIALECT: ADX's
      * spelling takes hll() sketches from a prior summarize and
      * estimates; this subset takes the id column + the set predicates
      * directly and counts EXACTLY — two map-side-combinable aggregates
      * (per-id membership flags, then one 1-row conjunction sum), no
      * sketch error to reconcile cross-engine. Null ids are ignored
      * (the dcount rule).
      */
    private def applyDcountIntersect(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val args = splitOn(toks, TSym(","))
      if (args.length < 3)
        fail("dcount_intersect(IdColumn, Expr1, Expr2, ...)")
      val idName = args(0) match {
        case Vector(TIdent(c)) => c
        case o => fail(s"dcount_intersect IdColumn must be a plain column, got $o")
      }
      val preds = args.drop(1).map(parsePredicate)
      val flagCols = preds.zipWithIndex.map { case (p, i) =>
        max(when(p, 1L).otherwise(0L)).as(s"__f$i")
      }
      val flags = df.filter(col(idName).isNotNull)
        .groupBy(col(idName))
        .agg(flagCols.head, flagCols.tail: _*)
      val cums = preds.indices.map { i =>
        val conj = (0 to i).map(j => col(s"__f$j")).reduce(_ * _)
        sum(conj).as(s"s$i")
      }
      flags.agg(cums.head, cums.tail: _*)
    }

    /** `partition by Col ( subquery )` — ADX runs the subquery once per
      * distinct value of Col and unions the results. This dialect
      * compiles the restricted stage set to PER-PARTITION SEMANTICS
      * instead of per-partition execution — the 100 TB form (a literal
      * per-value loop is a driver-side anti-pattern; ADX's own native
      * strategy does the same collapse):
      *   - row-wise stages (`where` / `extend` / the `project` family /
      *     `parse`) are partition-invariant and apply directly;
      *   - `top N by keys` becomes a rank cut over a Col-partitioned
      *     window — hash-partitioned across executors, never a
      *     per-value subjob;
      *   - `summarize ... by keys` gains Col as an extra group key
      *     (ADX's output contract for aggregating subqueries).
      * Anything else inside the parens fails loudly. Stages that need
      * the partition column check it still exists (a project can drop
      * it — ADX would too).
      */
    private def applyPartitionBy(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val (pcol, inner) = toks match {
        case TIdent("by") +: TIdent(c) +: TSym("(") +: rest :+ TSym(")") =>
          (c, rest)
        case _ => fail("partition syntax: partition by Col ( subquery )")
      }
      if (!df.columns.contains(pcol))
        fail(s"partition column '$pcol' not in the frame")
      // per-partition frozen order for a following scan: `sort by`
      // inside the parens records the keys WITHOUT a global sort (the
      // partition semantics make cross-key order meaningless, and the
      // scan's own partitioned window supplies the per-key ordering).
      // A sort nothing consumes stays rejected — accepting a silent
      // no-op would diverge from ADX without telling the user.
      val stages = splitPipes(inner)
      stages.zipWithIndex.foreach {
        case (TIdent(op) +: TIdent("by") +: _, i) if op == "sort" || op == "order" =>
          val consumed = stages.drop(i + 1).exists {
            case TIdent("scan") +: _ => true
            case _ => false
          }
          if (!consumed)
            fail(s"unsupported operator '$op' inside partition by " +
              "(only a `sort by` feeding a later `scan` is in subset)")
        case _ => ()
      }
      var innerSort: Option[Seq[Column]] = None
      stages.foldLeft(df) { (d, st) =>
        st match {
          case TIdent(op) +: TIdent("by") +: rest if op == "sort" || op == "order" =>
            innerSort = Some(parseSortKeys(rest)); d
          case TIdent("scan") +: rest =>
            if (!d.columns.contains(pcol))
              fail(s"partition column '$pcol' was projected away before scan")
            applyScan(d, rest, Seq(col(pcol)), innerSort)
          case TIdent("top") +: TNum(k) +: TIdent("by") +: rest =>
            if (!d.columns.contains(pcol))
              fail(s"partition column '$pcol' was projected away before top")
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(col(pcol)).orderBy(parseSortKeys(rest): _*)
            d.withColumn("__p_rnk", row_number().over(w))
              .filter(col("__p_rnk") <= k.toInt).drop("__p_rnk")
          case TIdent("summarize") +: rest =>
            if (!d.columns.contains(pcol))
              fail(s"partition column '$pcol' was projected away before summarize")
            val ext =
              if (rest.contains(TIdent("by"))) rest ++ Vector(TSym(","), TIdent(pcol))
              else rest ++ Vector(TIdent("by"), TIdent(pcol))
            applySummarize(d, ext)
          case TIdent(op) +: _
              if Set("where", "extend", "project", "parse")(op) =>
            applyStage0(d, st)
          case TIdent(op) +: _ =>
            fail(s"unsupported operator '$op' inside partition by")
          case _ => fail("malformed pipeline stage inside partition by")
        }
      }
    }

    /** `evaluate bag_unpack(col [, 'prefix'])` — expand a dynamic
      * property bag into one column per key, the ADX plugin whose
      * output schema follows the data. The key set is discovered with a
      * bounded distinct-keys aggregate (explode of `json_object_keys` —
      * the same driver-side bounded discovery `evaluate pivot` uses,
      * capped by the bag's schema arity, SORTED so the output schema is
      * deterministic); each key then compiles to ONE codegen'd
      * `get_json_object`, and the bag column is replaced by its
      * unpacked columns (ADX drops it too). Values come back as strings
      * — dynamic access returns dynamic, the tier-6 rule; wrap in
      * tolong()/todouble() to type them. Keys outside [A-Za-z0-9_]+
      * (dots, quotes — JSONPath metacharacters) fail loudly rather than
      * silently extracting the wrong path.
      */
    private def applyBagUnpack(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val (c, prefix) = toks match {
        case Vector(TIdent(c0)) => (c0, "")
        case Vector(TIdent(c0), TSym(","), TStr(p)) => (c0, p)
        case other => fail(s"bag_unpack takes (column [, 'prefix']), got $other")
      }
      if (!df.columns.contains(c)) fail(s"bag_unpack: no column '$c'")
      // the key discovery is driver-side by necessity (the output
      // SCHEMA depends on it) — so its boundedness is a CONTRACT, not a
      // hope: limit(cap+1) bounds the collect itself, and crossing the
      // cap fails loudly (a bag with per-row-unique keys would
      // otherwise drive an unbounded collect into a thousand-column
      // schema). Spark's own pivot path is bounded the same way by
      // spark.sql.pivotMaxValues.
      val keyRows = df.select(explode(json_object_keys(col(c))).as("k"))
        .distinct().orderBy("k").limit(BagUnpackKeyCap + 1).collect()
      if (keyRows.length > BagUnpackKeyCap)
        fail(s"bag_unpack: column '$c' holds more than $BagUnpackKeyCap " +
          "distinct keys — a bag whose key set scales with the data " +
          "cannot become a schema; aggregate or mv-expand it instead")
      val keys = keyRows.map(_.getString(0)).toSeq
      if (keys.isEmpty) fail(s"bag_unpack: column '$c' holds no object keys")
      keys.filterNot(_.matches("[A-Za-z0-9_]+")) match {
        case bad if bad.nonEmpty =>
          fail(s"bag_unpack: unsupported key(s) ${bad.mkString(", ")}")
        case _ => ()
      }
      val others = df.columns.filterNot(_ == c).map(col).toSeq
      df.select(others ++ keys.map(k =>
        get_json_object(col(c), s"$$.$k").as(prefix + k)): _*)
    }

    /** `getschema` — schema introspection as a table, the ADX contract:
      * (ColumnName, ColumnOrdinal, DataType, ColumnType). Compiles to a
      * LocalRelation off the frame's resolved schema — no data is
      * touched at all.
      */
    private def applyGetschema(df: DataFrame): DataFrame = {
      import org.apache.spark.sql.types._
      import df.sparkSession.implicits._
      def kqlType(dt: DataType): (String, String) = dt match {
        case StringType => ("System.String", "string")
        case LongType => ("System.Int64", "long")
        case IntegerType => ("System.Int32", "int")
        case DoubleType | FloatType => ("System.Double", "real")
        case BooleanType => ("System.SByte", "bool")
        case TimestampType | TimestampNTZType => ("System.DateTime", "datetime")
        case _: DecimalType => ("System.Data.SqlTypes.SqlDecimal", "decimal")
        case _ => ("System.Object", "dynamic")
      }
      df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val (dn, ct) = kqlType(f.dataType)
        (f.name, i.toLong, dn, ct)
      }.toDF("ColumnName", "ColumnOrdinal", "DataType", "ColumnType")
    }

    // ----------------------------------------------------------- union
    //   union := ['kind' '=' ('outer'|'inner')] side (',' side)*
    //   side  := table | '(' pipeline ')'
    //   ADX default is kind=outer: the result has the UNION of the
    //   columns, missing ones null — Spark's unionByName with
    //   allowMissingColumns. kind=inner keeps only columns common to
    //   every side (left side's column order). Each side is a full
    //   sub-pipeline, so Catalyst sees one Union node over N scans and
    //   pushes downstream filters into every branch.

    /** `fork [name =] (stages) [name =] (stages) ...` — multi-output
      * pipelines: every branch is an independent stage chain over the
      * SAME input. ADX returns one result table per branch; through the
      * single-DataFrame gateway the output is the LABELED UNion — each
      * branch's rows tagged `source_` = branch name (the
      * union-withsource convention), schemas merged by name with nulls
      * for columns a branch lacks. The shared input materializes ONCE
      * (localCheckpoint — the q_kql_materialize machinery) before the
      * fan-out: N differently-pruned consumers would otherwise
      * re-derive the whole upstream lineage per branch (the engine's
      * recall-harness lesson). Fork inputs are interactive-bounded by
      * the time a dashboard forks them; a 100 TB fan-out would stage to
      * parquet instead — same pattern, durable medium.
      */
    private def applyFork(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      var rem = toks
      val branches = Vector.newBuilder[(String, Vector[Tok])]
      var idx = 0
      while (rem.nonEmpty) {
        val name = rem match {
          case TIdent(n) +: TSym("=") +: t => rem = t; Some(n)
          case _ => None
        }
        rem match {
          case TSym("(") +: t =>
            var depth = 1
            var i = 0
            while (i < t.length && depth > 0) {
              t(i) match {
                case TSym("(") => depth += 1
                case TSym(")") => depth -= 1
                case _ => ()
              }
              i += 1
            }
            if (depth != 0) fail("unbalanced fork branch parentheses")
            val body = t.take(i - 1)
            if (body.isEmpty) fail("empty fork branch")
            branches += ((name.getOrElse(s"fork_$idx"), body))
            idx += 1
            rem = t.drop(i)
          case _ => fail("fork branches are `[name =] (stage | stage ...)`")
        }
      }
      val bs = branches.result()
      if (bs.length < 2) fail("fork needs at least two branches")
      val base = df.localCheckpoint(true)
      val outs = bs.map { case (nm, body) =>
        // branch isolation: a branch's sort/render state must not leak
        // into its siblings or the outer pipeline
        val savedSort = lastSort
        val savedRender = renderSeen
        lastSort = None
        val r =
          try splitPipes(body).foldLeft(base)(applyStage)
          finally { lastSort = savedSort; renderSeen = savedRender }
        val tagged = r.withColumn("source_", lit(nm))
        tagged.select((col("source_") +:
          r.columns.filterNot(_ == "source_").map(col).toSeq): _*)
      }
      outs.reduce(_.unionByName(_, allowMissingColumns = true))
    }

    /** `facet by c1[, c2 ...]` — one value-distribution table per
      * listed column (the ADX drill-down operator). Through the
      * single-DataFrame gateway: the labeled union (source_ = column
      * name, value = the stringified column value, count_ = rows), the
      * same convention as fork. One hash aggregate per column over the
      * once-materialized input.
      */
    private def applyFacet(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val names = parseNameList(toks)
      if (names.isEmpty) fail("facet needs at least one column")
      val base = df.localCheckpoint(true)
      names.map { c =>
        base.groupBy(col(c).cast("string").as("value"))
          .agg(count(lit(1)).as("count_"))
          .select(lit(c).as("source_"), col("value"), col("count_"))
      }.reduce(_.unionByName(_))
    }

    private def applyUnion(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      var rem = toks
      val kind = rem match {
        case TIdent("kind") +: TSym("=") +: TIdent(k) +: t => rem = t; k
        case _ => "outer"
      }
      // `withsource=Col` labels every row with its origin TABLE name.
      // In this subset it requires nameable sides: the left pipeline
      // must start from a plain table (the tracked headTable) and each
      // union side must be a table reference — a (pipeline) side has no
      // ADX-defined name and fails loudly rather than getting one
      // invented.
      val wsrc = rem match {
        case TIdent("withsource") +: TSym("=") +: TIdent(nm) +: t => rem = t; Some(nm)
        case _ => None
      }
      if (rem.isEmpty) fail("union needs at least one side")
      val sideToks = splitOn(rem, TSym(","))
      val (left, others) = wsrc match {
        case None =>
          (df, sideToks.map {
            case Vector(TIdent(t)) => sourceTable(t)
            case TSym("(") +: inner :+ TSym(")") => pipeline(splitPipes(inner))
            case other => fail(s"union sides must be a table or (pipeline), got $other")
          })
        case Some(srcCol) =>
          val leftName = headTable.getOrElse(
            fail("union withsource requires the pipeline to start from a named table"))
          (df.withColumn(srcCol, lit(leftName)), sideToks.map {
            case Vector(TIdent(t)) => sourceTable(t).withColumn(srcCol, lit(t))
            case _ => fail("union withsource sides must be plain table names")
          })
      }
      kind match {
        case "outer" =>
          others.foldLeft(left)(_.unionByName(_, allowMissingColumns = true))
        case "inner" =>
          val all = left +: others
          val common = all.map(_.columns.toSeq)
            .reduce((x, y) => x.filter(y.toSet))
          if (common.isEmpty) fail("union kind=inner: no common columns")
          all.map(_.select(common.map(col): _*)).reduce(_.unionByName(_))
        case other => fail(s"unsupported union kind '$other'")
      }
    }

    // ----------------------------------------------------- make-series
    //   make-series := item (',' item)* 'on' tsCol
    //                  'from' expr 'to' expr 'step' timespan
    //                  ['by' byItem (',' byItem)*]
    //   item := [ident '='] aggCall ['default' '=' number]
    //   The ADX time-series materializer: one row per group, each
    //   aggregate an ARRAY with exactly (to-from)/step slots — empty
    //   bins filled with the item's default (null if none) — plus the
    //   time axis as an array of bin timestamps, named after the on
    //   column. Bins are anchored at `from` (ADX semantics), the range
    //   is [from, to).
    //
    //   Plan shape (scales like a groupBy, not like a generator): one
    //   hash aggregate over (keys, bin) on the filtered scan, a
    //   key-distinct × foldable sequence() grid (bin count is
    //   (to-from)/step, independent of row count), a left join to fill
    //   gaps, then collect_list sorted by bin. The grid join is
    //   broadcast-size as long as |keys|×|bins| is small — which is the
    //   regime make-series is for (rendering/anomaly windows, not raw
    //   scans).

    // ------------------------------------ multi-assign extend (series)
    //   extend (n1, ..., nk) = series_stats(col) | series_fit_line(col)
    //   The ADX positional multi-assign over a make-series array:
    //   series_stats → (min, min_idx, max, max_idx, avg, variance,
    //   stdev) [7 names, sample variance, 0-based indices of the FIRST
    //   extremum]; series_fit_line → (rsquare, slope, variance,
    //   rvariance, interception) [5 names, x-axis 0..n-1, rvariance =
    //   sample residual variance; the line_fit output array is out of
    //   subset]. Per-row array folds only — nothing leaves the row, so
    //   the stage costs what make-series cost. All sums and the line
    //   fit come from the [[Exact]] core. On an empty series every
    //   scalar output is null (never a division by n = 0).
    private def applyExtendSeries(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      import org.apache.spark.sql.types.ArrayType
      val close = toks.indexOf(TSym(")"))
      if (close < 0) fail("extend (...) = fn(col): missing ')'")
      val names = splitOn(toks.take(close), TSym(",")).map {
        case Vector(TIdent(nm)) => nm
        case other => fail(s"extend multi-assign names must be identifiers, got $other")
      }
      val (fn, vcol, ints) = toks.drop(close + 1) match {
        case TSym("=") +: TIdent(f) +: TSym("(") +: TIdent(c) +: rest0
            if rest0.lastOption.contains(TSym(")")) =>
          val args = rest0.init match {
            case Vector() => Vector.empty[Int]
            case TSym(",") +: t =>
              splitOn(t, TSym(",")).map {
                case Vector(TNum(k)) if !k.contains('.') => k.toInt
                case other => fail(s"$f: arguments after the series " +
                  s"column must be integer literals, got $other")
              }
            case other => fail(s"$f: malformed argument list $other")
          }
          (f, c, args)
        case _ => fail("extend (...) = fn(column[, intLiteral...]): " +
          "one array-column argument (+ integer literals per function)")
      }
      val period: Option[Int] = ints.headOption
      if (!df.columns.contains(vcol)) fail(s"$fn: no column '$vcol'")
      df.schema(vcol).dataType match {
        case ArrayType(_, _) => ()
        case other => fail(s"$fn needs an array column, got $other")
      }
      val v = col(vcol)
      val fit = Exact.lineFit(v)
      import fit.{n, sy}
      val sy2 = Exact.prodSum(v, v)
      val variance = when(size(v) > 1, (sy2 - sy * sy / n) / (n - lit(1.0)))
      val outs: Seq[(String, Column)] = fn match {
        case "series_stats" =>
          if (ints.nonEmpty) fail("series_stats takes no extra arguments")
          if (names.length != 7)
            fail("series_stats multi-assign takes exactly 7 names " +
              "(min, min_idx, max, max_idx, avg, variance, stdev)")
          val vd = transform(v, x => x.cast("double"))
          val mn = array_min(vd)
          val mx = array_max(vd)
          names.zip(Seq(
            mn, (array_position(vd, mn) - 1).cast("long"),
            mx, (array_position(vd, mx) - 1).cast("long"),
            when(size(v) > 0, sy / n), variance, sqrt(variance)))
        case "series_fit_line" =>
          if (ints.nonEmpty) fail("series_fit_line takes no extra arguments")
          if (names.length != 5)
            fail("series_fit_line multi-assign takes exactly 5 names " +
              "(rsquare, slope, variance, rvariance, interception)")
          import fit.{sxy, sx, sx2, slope, inter}
          val ssres = sy2 - lit(2.0) * inter * sy - lit(2.0) * slope * sxy +
            n * inter * inter + lit(2.0) * inter * slope * sx + slope * slope * sx2
          val sstot = when(size(v) > 0, sy2 - sy * sy / n)
          names.zip(Seq(
            when(sstot > 0, lit(1.0) - ssres / sstot), slope, variance,
            ssres / (n - lit(1.0)), inter))
        case "series_decompose" =>
          // ADX series_decompose(series, period) → (baseline, seasonal,
          // trend, residual), additive. This dialect's deterministic
          // recipe (documented; ADX's default also detects the period
          // and can use STL-style robust fitting): trend = the
          // series_fit_line least-squares line over the RAW series;
          // seasonal[i] = phase mean of the detrended values at
          // positions ≡ i (mod period) ([[Exact.phaseMean]]); residual
          // = detrended − seasonal; baseline = trend + seasonal
          // ([[Exact.decompose]]). Everything is per-row array
          // arithmetic — the stage costs what make-series cost at any
          // scale.
          if (names.length != 4)
            fail("series_decompose multi-assign takes exactly 4 names " +
              "(baseline, seasonal, trend, residual)")
          if (ints.length > 1) fail("series_decompose takes at most one period")
          val pCol = period match {
            case Some(p) => seriesPeriod(fn, p)
            case None =>
              // AUTO period (round 11): the omitted-period ADX form.
              // The period is series_periods_detect's top lag over the
              // documented 2..14 band (daily/weekly seasonality on
              // typical grids; wider bands go through an explicit
              // series_periods_detect + explicit period), falling back
              // to p = 1 when nothing correlates (r0 = 0 or no valid
              // lag) — with one phase the phase mean of the detrended
              // series is algebraically 0 by the normal equations, so
              // p = 1 IS "no seasonality". The detected period is a
              // data-dependent column; the fixed period is its literal
              // case.
              coalesce(try_element_at(periodsDetect(v, 2, 14, 1)._1, lit(1)),
                lit(1L))
          }
          val (d, parts) = Exact.decompose(df, v, pCol)
          return names.zip(parts).foldLeft(d) {
            case (acc, (nm, e)) => acc.withColumn(nm, e)
          }.drop(Exact.decompTemps: _*)
        case "series_decompose_anomalies" =>
          // ADX series_decompose_anomalies(series, period) — the
          // one-call anomaly idiom: decompose (the exact recipe above),
          // then score the RESIDUAL with the default ctukey fences
          // (p10/p90 — series_outliers' default), then flag scores
          // crossing ADX's default threshold 1.5 (+1 above, -1 below,
          // 0 inside). Output order is ADX's (ad_flag, ad_score,
          // baseline). The flag compares the 4-dp-ROUNDED score in both
          // engines, so the cut cannot flip on an ulp.
          //
          // The residual and the score MATERIALIZE as intermediate
          // columns (dropped below) instead of composing one Column:
          // tukeyScores references its input ~8× (two interpolated
          // percentiles, the fence width, the per-element comparisons)
          // and the flag references the score 3× — inlined, the
          // decompose subtree would replicate ~40× into a
          // tens-of-MB expression tree (measured: 86 MiB task
          // binaries, a 135 s query). CollapseProject keeps non-cheap
          // aliases materialized, so each stage computes once per row.
          if (names.length != 3)
            fail("series_decompose_anomalies multi-assign takes exactly " +
              "3 names (ad_flag, ad_score, baseline)")
          val p = period.getOrElse(fail("series_decompose_anomalies needs " +
            "an explicit integer period in this subset (detection is out)"))
          val (d, Seq(base, _, _, resid)) =
            Exact.decompose(df, v, seriesPeriod(fn, p))
          val resCol = "__graft_da_res"
          val scoreCol = "__graft_da_score"
          return d.withColumn(resCol, resid)
            .withColumn(scoreCol, tukeyScores(col(resCol), 0.10, 0.90))
            .withColumn(names(0), transform(col(scoreCol), sc =>
              when(sc > 1.5, lit(1)).when(sc < -1.5, lit(-1)).otherwise(lit(0))))
            .withColumn(names(1), col(scoreCol))
            .withColumn(names(2), base)
            .drop(resCol +: scoreCol +: Exact.decompTemps: _*)
        case "series_periods_detect" =>
          // ADX series_periods_detect(x, min_period, max_period,
          // num_periods) → (periods, scores): the dominant seasonality
          // lags. This dialect's deterministic recipe (ADX's is
          // FFT-based): DEMEANED AUTOCORRELATION per lag L in
          // [min, max], derived ALGEBRAICALLY from exact sums —
          // r(L) = Σyᵢyᵢ₊L − μ·Σheadᵢyᵢ − μ·Σtailᵢyᵢ + (n−L)·μ², with
          // the product and plain sums exact decimal folds (order-free)
          // and the combination one fixed IEEE expression — never a
          // float running sum (the engine's exact-components rule).
          // score = r(L)/r(0); a lag is valid only while n ≥ 2L;
          // r(0) = 0 (constant series) → empty results. Top-k by
          // (score desc, lag asc) — a rank cut, ulp-proof under the
          // strictly-decreasing score structure of finite series.
          // Lag bounds are call-site literals, so the lag scan unrolls
          // at translate time like the phase means.
          if (names.length != 2)
            fail("series_periods_detect multi-assign takes exactly 2 " +
              "names (periods, scores)")
          val (minP, maxP, k) = ints match {
            case Vector(a, b, c) => (a, b, c)
            case _ => fail("series_periods_detect(col, min_period, " +
              "max_period, num_periods): three integer literals")
          }
          if (minP < 2) fail("series_periods_detect min_period must be >= 2")
          if (maxP < minP) fail("series_periods_detect max_period < min_period")
          if (maxP > 1000) fail("series_periods_detect max_period out of range")
          if (maxP - minP >= 100)
            fail("series_periods_detect scans at most 100 lags")
          if (k < 1) fail("series_periods_detect num_periods must be >= 1")
          val (periodsE, scoresE) = periodsDetect(v, minP, maxP, k)
          names.zip(Seq(periodsE, scoresE))
        case other =>
          fail(s"unsupported multi-assign function '$other' " +
            "(series_stats/series_fit_line/series_decompose[_anomalies]/" +
            "series_periods_detect)")
      }
      outs.foldLeft(df) { case (d, (nm, e)) => d.withColumn(nm, e) }
    }

    /** A decompose-family period literal, checked against [2, 1000]. */
    private def seriesPeriod(fn: String, p: Int): Column =
      if (p < 2 || p > 1000) fail(s"$fn period $p out of [2, 1000]") else lit(p)

    /** The demeaned-autocorrelation lag scan shared by
      * series_periods_detect and the auto-period series_decompose:
      * returns (periods, scores) arrays — top-k lags by
      * (score desc, lag asc), scores 4-dp-rounded. The length test runs
      * before r0 so a series too short for any lag (`[]` included)
      * never evaluates `sy / n`.
      */
    private def periodsDetect(v: Column, minP: Int, maxP: Int,
        k: Int): (Column, Column) = {
      val n = size(v).cast("double")
      val sy = Exact.sum(v)
      val mu = sy / n
      val r0 = Exact.prodSum(v, v) - lit(2.0) * mu * sy + n * mu * mu
      val cands: Seq[Column] = (minP to maxP).map { l =>
        val head = slice(v, lit(1), size(v) - lit(l))
        val tail = slice(v, lit(l + 1), size(v) - lit(l))
        val sp = Exact.prodSum(head, tail)
        val syh = Exact.sum(head)
        val syt = Exact.sum(tail)
        val cL = n - lit(l.toDouble)
        val sc = (sp - mu * syh - mu * syt + cL * mu * mu) / r0
        when(size(v) >= 2 * l && r0 > 0,
          struct((-sc).as("ns"), lit(l.toLong).as("lag")))
          .otherwise(lit(null))
      }
      val ranked = slice(array_sort(filter(array(cands: _*),
        x => x.isNotNull)), 1, k)
      (transform(ranked, x => x.getField("lag")),
        transform(ranked, x => round(-x.getField("ns"), 4)))
    }

    private def applyMakeSeries(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val onIdx = toks.indexOf(TIdent("on"))
      if (onIdx < 0) fail("make-series requires `on <timestamp column>`")
      val items = splitOn(toks.take(onIdx), TSym(",")).map(parseSeriesItem)
      var rem = toks.drop(onIdx + 1)
      val tsCol = rem match {
        case TIdent(c) +: t => rem = t; c
        case _ => fail("make-series `on` needs a column name")
      }
      def cutAt(kw: String, upto: Set[String]): Vector[Tok] = rem match {
        case TIdent(`kw`) +: t =>
          val end = t.indexWhere {
            case TIdent(w) => upto(w)
            case _ => false
          }
          if (end < 0) { rem = Vector.empty; t }
          else { rem = t.drop(end); t.take(end) }
        case _ => fail(s"make-series requires `$kw ...` (explicit range keeps the series deterministic)")
      }
      val fromC = parseArithToks(cutAt("from", Set("to")))
      val toC = parseArithToks(cutAt("to", Set("step")))
      val stepUs = rem match {
        case TIdent("step") +: TSpan(us) +: t =>
          if (us <= 0) fail("make-series step must be positive")
          rem = t; us
        case _ => fail("make-series requires `step <timespan>`")
      }
      val byKeys: Vector[Column] = rem match {
        case TIdent("by") +: t => parseByItems(t)
        case Vector() => Vector.empty
        case other => fail(s"unexpected tokens after step: $other")
      }
      if (byKeys.isEmpty) fail("make-series needs `by <keys>` in this subset")

      // everything in exact epoch-µs integer arithmetic, bins anchored
      // at `from`: bin(u) = u - (u - from) mod step
      val fromUs = unix_micros(fromC.cast("timestamp"))
      val toUs = unix_micros(toC.cast("timestamp"))
      val u = unix_micros(col(tsCol).cast("timestamp"))
      val binU = (u - pmod(u - fromUs, lit(stepUs))).as("__bin_us")

      val keyNames = byKeys.map(k => df.select(k).columns.head)
      // the range filter compares the COLUMN against foldable timestamp
      // literals — `unix_micros(ts) >= c` is an expression predicate
      // parquet can't push, `ts >= timestamp` is an attribute predicate
      // that reaches PushedFilters and prunes row groups (PlanSpec pins
      // this); the µs integer forms above stay for the bin arithmetic
      val tsc = col(tsCol).cast("timestamp")
      val inRange = df.filter(tsc >= timestamp_micros(fromUs) &&
        tsc < timestamp_micros(toUs))
      val agged = inRange
        .groupBy((byKeys :+ binU): _*)
        .agg(items.head.agg, items.tail.map(_.agg): _*)
      // the time grid: foldable sequence() over the closed [from, to-1]
      // µs range — exactly the bins < to — crossed with the observed
      // keys. Keys derive from the BOUNDED aggregate (keys × bins rows),
      // not a second distinct pass over the corpus: a key is observed
      // iff it aggregated at least one in-range row
      val grid = agged.select(keyNames.map(col): _*).distinct()
        .select(col("*"),
          explode(sequence(fromUs, toUs - lit(1), lit(stepUs))).as("__bin_us"))
      // null-SAFE key equality: a NULL by-key value is a legal group
      // (both sides carry it), and a plain equality join would silently
      // fill that group's bins with defaults even where data exists
      val aggedR = agged.toDF(agged.columns.map(c => s"__r_$c").toIndexedSeq: _*)
      val joinCond = (keyNames.map(k => col(k) <=> col(s"__r_$k")) :+
        (col("__bin_us") === col(s"__r___bin_us"))).reduce(_ && _)
      val filled = grid.join(aggedR, joinCond, "left")
        .select((grid.columns.map(col) ++
          items.map(it => col(s"__r_${it.name}").as(it.name))): _*)
      // pack (bin, aggs...) per group, sort by bin, then unzip each
      // aggregate into its own array column; the time axis array takes
      // the on-column's name (ADX behavior)
      val packed = sort_array(collect_list(struct(
        (col("__bin_us") +: items.map(it =>
          coalesce(col(it.name), it.default).as(it.name))): _*)))
      val g = filled.groupBy(keyNames.map(col): _*)
        .agg(packed.as("__packed"))
      val seriesCols = items.map(it =>
        transform(col("__packed"), x => x(it.name)).as(it.name))
      val axis = transform(col("__packed"),
        x => timestamp_micros(x("__bin_us"))).as(tsCol)
      g.select((keyNames.map(col) ++ seriesCols :+ axis): _*)
    }

    private case class SeriesItem(name: String, agg: Column, default: Column)

    private def parseSeriesItem(toks: Vector[Tok]): SeriesItem = {
      // strip a trailing `default = <number>` (depth-0 scan from the end)
      val (callToks, default) = toks match {
        case init :+ TIdent("default") :+ TSym("=") :+ TNum(v) =>
          (init, if (v.contains('.')) lit(v.toDouble) else lit(v.toLong))
        case _ => (toks, lit(null))
      }
      callToks match {
        case TIdent(alias) +: TSym("=") +: call =>
          val (_, agg) = parseAggCallNamed(call)
          SeriesItem(alias, agg.as(alias), default)
        case call =>
          // the aggregate's ADX default name
          val (name, agg) = parseAggCallNamed(call)
          SeriesItem(name, agg.as(name), default)
      }
    }

    // ---------------------------------------------------------- lookup
    //   lookup := ['kind' '=' ('leftouter'|'inner')] side 'on' keys
    //   ADX's dimension-table join: like join but the right side is BY
    //   CONTRACT the small dimension — so the translation pins a
    //   broadcast hint on it (ADX's own optimizer does the equivalent),
    //   left rows are never deduplicated, and the default kind is
    //   leftouter (keep every fact row, null-extend missing dims).

    private def applyLookup(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      var rem = toks
      val kind = rem match {
        case TIdent("kind") +: TSym("=") +: TIdent(k) +: t => rem = t; k
        case _ => "leftouter"
      }
      val (right, keyPairs) = joinRightSide(rem)
      if (keyPairs.forall { case (a, b) => a == b }) {
        val keys = keyPairs.map(_._1)
        kind match {
          case "leftouter" => df.join(broadcast(right), keys, "left")
          case "inner" => df.join(broadcast(right), keys, "inner")
          case other => fail(s"unsupported lookup kind '$other' (leftouter|inner)")
        }
      } else kind match {
        case "leftouter" | "inner" =>
          // ADX lookup output EXCLUDES the right-side key columns
          // (unlike join — they'd be pure duplicates of the left keys
          // on matched rows); broadcast stays pinned on the dimension
          explicitKeyJoin(df, right, keyPairs, kind,
            broadcastRight = true, dropRightKeys = true)
        case other => fail(s"unsupported lookup kind '$other' (leftouter|inner)")
      }
    }

    // ----------------------------------------------------------- parse
    //   parse := ['kind' '=' 'simple'] column 'with' item+
    //   item  := string-literal | '*' | ident (a captured column)
    //   kind=simple compiles to ONE anchored regex: literals are quoted,
    //   '*' skips non-greedily, captures are non-greedy except a trailing
    //   capture (which takes the rest). Captured columns are strings,
    //   empty when the pattern does not match — regexp_extract semantics
    //   on both engines. `parse-where` (filterMatched) is the ADX
    //   variant that DROPS non-matching rows instead of null-extending
    //   them: the same anchored regex runs once as an rlike filter and
    //   once per capture, all inside one codegen span.

    private def applyParse(df: DataFrame, toks: Vector[Tok],
        filterMatched: Boolean = false): DataFrame = {
      val (srcCol, patToks, kindRegex) = toks match {
        case TIdent("kind") +: TSym("=") +: TIdent("simple") +: TIdent(c) +:
            TIdent("with") +: p => (c, p, false)
        // kind=regex: ADX treats the string items as RAW REGEX
        // fragments (RE2∩Java subset, gate-checked) instead of quoted
        // literals; captures compile the same way as kind=simple
        case TIdent("kind") +: TSym("=") +: TIdent("regex") +: TIdent(c) +:
            TIdent("with") +: p => (c, p, true)
        case TIdent("kind") +: TSym("=") +: TIdent(k) +: _ =>
          fail(s"unsupported parse kind '$k' (only kind=simple|regex)")
        case TIdent(c) +: TIdent("with") +: p => (c, p, false)
        case _ => fail("parse must be `parse [kind=simple|regex] col with pattern`")
      }
      if (patToks.isEmpty) fail("parse needs a pattern")
      val sb = new StringBuilder("^")
      val names = Vector.newBuilder[String]
      patToks.zipWithIndex.foreach { case (t, ix) =>
        val isLast = ix == patToks.length - 1
        t match {
          case TStr(v) if kindRegex =>
            // a raw fragment may not smuggle a capture group in — group
            // numbering must stay aligned with the named captures
            if (java.util.regex.Pattern.compile(checkedRegex(v))
                .matcher("").groupCount() > 0)
              fail(s"parse kind=regex fragment '$v' must use " +
                "non-capturing groups (?:...); captures are the bare idents")
            sb ++= v
          case TStr(v) => sb ++= java.util.regex.Pattern.quote(v)
          case TSym("*") => sb ++= (if (isLast) ".*" else ".*?")
          case TIdent(nm) =>
            names += nm
            sb ++= (if (isLast) "(.*)" else "(.*?)")
          case other =>
            fail(s"parse pattern items must be literals, columns, or *, got $other")
        }
      }
      val pat = sb.toString
      val base = if (filterMatched) df.filter(col(srcCol).rlike(pat)) else df
      names.result().zipWithIndex.foldLeft(base) { case (d, (nm, gi)) =>
        d.withColumn(nm, regexp_extract(col(srcCol), pat, gi + 1))
      }
    }

    // -------------------------------------------------------- parse-kv
    //   parse-kv col as (k1: type, ...) with (pair_delimiter='c',
    //   kv_delimiter='c')
    //   The ADX key-value extractor: each declared key compiles to ONE
    //   codegen'd regexp_extract `(?:^|<pd>)key<kvd>([^<pd>]*)` (both
    //   delimiters \Q-quoted — RE2 and Java agree on \Q..\E, including
    //   inside a character class, so the DuckDB twin is exact). Typed
    //   keys null on absence or a failed conversion (try_cast — the
    //   ADX behavior); string keys keep the raw extraction ('' when
    //   absent, regexp_extract semantics on both engines).

    private def applyParseKv(df: DataFrame, toks: Vector[Tok]): DataFrame = {
      val (srcCol, rest0) = toks match {
        case TIdent(c) +: TIdent("as") +: TSym("(") +: r => (c, r)
        case _ => fail("parse-kv must be `parse-kv col as (k: type, ...) " +
          "with (pair_delimiter='c', kv_delimiter='c')`")
      }
      val close = rest0.indexOf(TSym(")"))
      if (close < 0) fail("parse-kv: missing ')' after the key list")
      val keys = splitOn(rest0.take(close), TSym(",")).map {
        case Vector(TIdent(k), TSym(":"), TIdent(ty)) =>
          if (!kqlScalarTypes.contains(ty))
            fail(s"parse-kv: unsupported key type '$ty'")
          (k, ty)
        case other => fail(s"parse-kv keys must be `name: type`, got $other")
      }
      if (keys.isEmpty) fail("parse-kv needs at least one key")
      val (pd, kvd) = rest0.drop(close + 1) match {
        case TIdent("with") +: TSym("(") +: rest2
            if rest2.lastOption.contains(TSym(")")) =>
          var p = " "; var kv = "="
          splitOn(rest2.init, TSym(",")).foreach {
            case Vector(TIdent("pair_delimiter"), TSym("="), TStr(v)) => p = v
            case Vector(TIdent("kv_delimiter"), TSym("="), TStr(v)) => kv = v
            case other => fail(s"parse-kv settings are pair_delimiter/" +
              s"kv_delimiter string literals, got $other")
          }
          (p, kv)
        case Vector() => (" ", "=")
        case other => fail(s"parse-kv: expected `with (...)`, got $other")
      }
      // pair_delimiter must be ONE character: the value span compiles
      // to a negated character class ([^c]*), which has no multi-char
      // form (\Q..\E inside a class is Java-only — RE2 would diverge)
      if (pd.length != 1) fail("parse-kv pair_delimiter must be one character")
      if (kvd.isEmpty) fail("parse-kv kv_delimiter must be non-empty")
      // backslash-escape any non-alphanumeric: valid (and identical)
      // in Java and RE2, both inside and outside a character class.
      // The key and kv_delimiter get the SAME per-char escape instead
      // of \Q..\E: a literal containing the pair `\E` would terminate
      // the quote and inject raw regex.
      val pdC = if (pd.head.isLetterOrDigit) pd else "\\" + pd
      def esc(s: String): String =
        s.flatMap(c => if (c.isLetterOrDigit) c.toString else "\\" + c)
      keys.foldLeft(df) { case (d, (k, ty)) =>
        val pat = s"(?:^|$pdC)${esc(k + kvd)}([^$pdC]*)"
        val raw = regexp_extract(col(srcCol), pat, 1)
        val v =
          if (ty == "string") raw
          else when(length(raw) > 0, raw.try_cast(kqlScalarTypes(ty)))
            .otherwise(lit(null).cast(kqlScalarTypes(ty)))
        d.withColumn(k, v)
      }
    }

    // ------------------------------------------------------- summarize
    //   summarize := aggItem (',' aggItem)* ['by' byItem (',' byItem)*]
    //   aggItem   := [ident '='] aggCall
    //   aggCall   := count '(' ')' | (sum|avg|min|max|dcount) '(' arith ')'
    //   byItem    := ident | ident '=' arith | bin '(' col ',' width ')'
    //   Default ADX-style output names: count_ / sum_x / avg_x / ...;
    //   a bin() key is named after its column (ADX behavior).
    //   `dcount` is translated to the EXACT distinct count (ADX's is an
    //   HLL estimate) — exactness keeps the result oracle-comparable; the
    //   approximate twin is q_agg_approx_distinct.

    private def applySummarize(df: DataFrame, toks0: Vector[Tok]): DataFrame = {
      // ADX shuffle hints (`summarize hint.shufflekey=Col hint.strategy=
      // shuffle hint.num_partitions=N ...`) are ADVISORY here: Spark's
      // hash aggregate already map-side-combines and shuffles on the
      // group keys, which IS the shuffle strategy — validate the shape,
      // strip the hint
      var toks = toks0
      var hints = true
      while (hints) toks match {
        case TIdent("hint") +: TSym(".") +: TIdent(h) +: TSym("=") +: v +: t =>
          (h, v) match {
            case ("shufflekey", TIdent(_)) => ()
            case ("strategy", TIdent("shuffle")) => ()
            case ("num_partitions", TNum(_)) => ()
            case other => fail(s"unsupported summarize hint $other")
          }
          toks = t
        case _ => hints = false
      }
      val byIdx = toks.indexOf(TIdent("by"))
      val (aggToks, keys) =
        if (byIdx < 0) (toks, Vector.empty[Column])
        else (toks.take(byIdx), parseByItems(toks.drop(byIdx + 1)))
      val aggs = splitOn(aggToks, TSym(",")).map(parseAggItem)
      if (aggs.isEmpty) fail("summarize needs at least one aggregate")
      val grouped =
        if (keys.isEmpty) df.groupBy()
        else df.groupBy(keys: _*)
      grouped.agg(aggs.head, aggs.tail: _*)
    }

    private def parseByItems(toks: Vector[Tok]): Vector[Column] =
      splitOn(toks, TSym(",")).map {
        case Vector(TIdent(a)) => col(a)
        case TIdent(alias) +: TSym("=") +: e if e.nonEmpty =>
          parseArithToks(e).as(alias)
        // `by bin(ts, 1h)` keeps the column's name, matching ADX
        case bt @ (TIdent("bin") +: TSym("(") +: TIdent(c0) +: _) =>
          parseArithToks(bt).as(c0)
        case other =>
          fail(s"by keys must be a column, `alias = expr`, or bin(col, width), got $other")
      }

    private def parseAggItem(toks: Vector[Tok]): Column = toks match {
      case TIdent(alias) +: TSym("=") +: callToks =>
        parseAggCall(callToks).as(alias)
      case callToks =>
        parseAggCall(callToks) // carries its ADX default name
    }

    private def parseAggCall(toks: Vector[Tok]): Column = {
      val (name, agg) = parseAggCallNamed(toks)
      agg.as(name)
    }

    /** Aggregate call → (ADX default output name, unaliased Column).
      * Beyond the tier-1 set: conditional aggregates (countif/sumif/
      * minif/maxif/dcountif — the predicate argument goes through the
      * full predicate grammar), arg_max/arg_min (→ max_by/min_by, ADX
      * argument order `(exprToRank, exprToReturn)`), exact percentile
      * (ADX's is a T-digest estimate; exact keeps the result
      * oracle-comparable, the approximate twin is percentile_approx),
      * stdev/variance (sample, matching ADX), and the collectors
      * make_list / make_set (make_set is returned SORTED so the result
      * is deterministic — ADX's set order is unspecified anyway).
      */
    private def parseAggCallNamed(toks: Vector[Tok]): (String, Column) = toks match {
      case Vector(TIdent("count"), TSym("("), TSym(")")) =>
        ("count_", count(lit(1)))
      case TIdent(fn) +: TSym("(") +: inner :+ TSym(")") =>
        val groups: Vector[Vector[Tok]] =
          if (inner.isEmpty) Vector.empty else splitOn(inner, TSym(","))
        def arg(i: Int): Column = parseArithToks(groups(i))
        def pred(i: Int): Column = parsePredicate(groups(i))
        def nArgs(n: Int): Unit =
          if (groups.length != n)
            fail(s"$fn() takes $n argument(s), got ${groups.length}")
        val defaultName = groups.headOption match {
          case Some(Vector(TIdent(c))) => s"${fn}_$c"
          case _ => s"${fn}_"
        }
        val agg = fn match {
          case "sum" => nArgs(1); sum(arg(0))
          case "avg" => nArgs(1); avg(arg(0))
          case "min" => nArgs(1); min(arg(0))
          case "max" => nArgs(1); max(arg(0))
          case "dcount" => nArgs(1); count_distinct(arg(0))
          case "stdev" => nArgs(1); stddev_samp(arg(0))
          case "variance" => nArgs(1); var_samp(arg(0))
          case "countif" => nArgs(1); count_if(pred(0))
          case "sumif" => nArgs(2); sum(when(pred(1), arg(0)))
          case "minif" => nArgs(2); min(when(pred(1), arg(0)))
          case "maxif" => nArgs(2); max(when(pred(1), arg(0)))
          case "dcountif" => nArgs(2); count_distinct(when(pred(1), arg(0)))
          case "arg_max" => nArgs(2); max_by(arg(1), arg(0))
          case "arg_min" => nArgs(2); min_by(arg(1), arg(0))
          case "percentile" =>
            nArgs(2)
            val p = groups(1) match {
              case Vector(TNum(v)) => v.toDouble
              case other => fail(s"percentile() rank must be a number, got $other")
            }
            if (p < 0 || p > 100) fail("percentile() rank must be in [0, 100]")
            percentile(arg(0), lit(p / 100.0))
          case "make_list" => nArgs(1); collect_list(arg(0))
          case "make_set" => nArgs(1); array_sort(collect_set(arg(0)))
          case other => fail(s"unsupported aggregate '$other'")
        }
        (defaultName, agg)
      case _ => fail("aggregates must be `[alias =] fn(expr)`")
    }

    // ---------------------------------------------------------- extend
    //   extend := item (',' item)* ; item := ident '=' arith

    private def parseExtendItems(toks: Vector[Tok]): Vector[(String, Column)] =
      splitOn(toks, TSym(",")).map {
        case TIdent(name) +: TSym("=") +: expr if expr.nonEmpty =>
          (name, parseArithToks(expr))
        case _ => fail("extend items must be `name = expression`")
      }

    // ------------------------------------------------------- predicate
    //   orExpr  := andExpr ('or' andExpr)*
    //   andExpr := term ('and' term)*
    //   term    := '(' orExpr ')' | 'not' term | operand CMP operand

    private def parsePredicate(toks: Vector[Tok]): Column = {
      val c = new Cur(toks)
      val e = parseOr(c)
      if (!c.done) fail("trailing tokens after predicate")
      e
    }

    private def parseOr(c: Cur): Column = {
      var l = parseAnd(c)
      while (c.peek.contains(TIdent("or"))) { c.next(); l = l || parseAnd(c) }
      l
    }

    private def parseAnd(c: Cur): Column = {
      var l = parseTerm(c)
      while (c.peek.contains(TIdent("and"))) { c.next(); l = l && parseTerm(c) }
      l
    }

    private def parseTerm(c: Cur): Column = c.peek match {
      case Some(TIdent("not")) =>
        c.next(); !parseTerm(c)
      case _ =>
        // parseArith handles '(' grouping itself, so `(a + b) > 3`,
        // `(x > 1 or y > 2)` — via the boolean fall-through — and a bare
        // boolean term (`isempty(x)`, a bool column) all parse here
        val l = parseArith(c)
        cmpSuffix(c, l)
    }

    /** Optional comparison suffix after an arithmetic/boolean term; with
      * no recognized operator the term IS the predicate (boolean column
      * or boolean-returning function).
      */
    private def cmpSuffix(c: Cur, l: Column): Column = c.peek match {
      case Some(TSym("==")) | Some(TSym("=")) => c.next(); l === parseArith(c)
      case Some(TSym("!=")) | Some(TSym("<>")) => c.next(); l =!= parseArith(c)
      // ADX case-insensitive string equality / inequality
      case Some(TSym("=~")) => c.next(); lower(l) === lower(parseArith(c))
      case Some(TSym("!~")) => c.next(); lower(l) =!= lower(parseArith(c))
      case Some(TSym("<")) => c.next(); l < parseArith(c)
      case Some(TSym("<=")) => c.next(); l <= parseArith(c)
      case Some(TSym(">")) => c.next(); l > parseArith(c)
      case Some(TSym(">=")) => c.next(); l >= parseArith(c)
      // ADX: bare string operators are case-INsensitive, _cs exact
      case Some(TIdent("contains")) => c.next(); lower(l).contains(lower(operand(c)))
      case Some(TIdent("contains_cs")) => c.next(); l.contains(operand(c))
      case Some(TIdent("startswith")) => c.next(); lower(l).startsWith(lower(operand(c)))
      case Some(TIdent("startswith_cs")) => c.next(); l.startsWith(operand(c))
      case Some(TIdent("endswith")) => c.next(); lower(l).endsWith(lower(operand(c)))
      case Some(TIdent("endswith_cs")) => c.next(); l.endsWith(operand(c))
      // ADX `matches regex` — the RE2-compatible literal pattern only
      // (the q_pii_redact rule: patterns must mean the same thing to
      // Java regex and the oracle's RE2; backrefs/lookaround are out).
      // Unanchored match semantics, exactly Spark's rlike.
      case Some(TIdent("matches")) =>
        c.next()
        c.next() match {
          case TIdent("regex") => ()
          case t => fail(s"expected `regex` after matches, got $t")
        }
        val pat = c.next() match {
          case TStr(v) => v
          case t => fail(s"matches regex takes a string literal, got $t")
        }
        l.rlike(checkedRegex(pat))
      // ADX `has`: whole-TERM match (alphanumeric boundaries), the
      // operator ADX users reach before contains because it rides the
      // term index; here a boundary regex — case-insensitive bare,
      // exact with _cs. The needle must be a literal (it builds the
      // pattern).
      case Some(TIdent("has")) => c.next(); hasTerm(l, c, cs = false)
      case Some(TIdent("has_cs")) => c.next(); hasTerm(l, c, cs = true)
      // has_any / has_all: term-match against a literal list — the ADX
      // multi-needle forms (OR / AND of per-needle term matches)
      case Some(TIdent("has_any")) =>
        c.next()
        parseStrList(c).map(hasNeedle(l, _, cs = false)).reduce(_ || _)
      case Some(TIdent("has_all")) =>
        c.next()
        parseStrList(c).map(hasNeedle(l, _, cs = false)).reduce(_ && _)
      // ADX `x in (a, b, c)` / `x !in (...)` — literal lists only;
      // `in~` / `!in~` are the case-insensitive forms
      case Some(TIdent("in")) =>
        c.next()
        if (c.peek.contains(TSym("~"))) {
          c.next()
          lower(l).isin(parseLitList(c).map(ciLit): _*)
        } else l.isin(parseLitList(c): _*)
      case Some(TSym("!")) if c.peek2.contains(TIdent("in")) =>
        c.next(); c.next()
        if (c.peek.contains(TSym("~"))) {
          c.next()
          !lower(l).isin(parseLitList(c).map(ciLit): _*)
        } else !l.isin(parseLitList(c): _*)
      // negated string operators: !contains / !startswith / !endswith / !has
      case Some(TSym("!")) if c.peek2.exists {
          case TIdent(op) => Set("contains", "startswith", "endswith", "has")(op)
          case _ => false
        } =>
        c.next()
        c.next() match {
          case TIdent("contains") => !lower(l).contains(lower(operand(c)))
          case TIdent("startswith") => !lower(l).startsWith(lower(operand(c)))
          case TIdent("endswith") => !lower(l).endsWith(lower(operand(c)))
          case TIdent("has") => !hasTerm(l, c, cs = false)
          case t => fail(s"unsupported negated operator $t")
        }
      case Some(TIdent("between")) =>
        // ADX: `x between (lo .. hi)`, bounds inclusive
        c.next()
        c.expect(TSym("("))
        val lo = parseArith(c)
        c.expect(TSym(".")); c.expect(TSym("."))
        val hi = parseArith(c)
        c.expect(TSym(")"))
        l >= lo && l <= hi
      case _ => l
    }

    /** `has` term predicate: the needle must appear as a whole term —
      * bounded by non-alphanumerics or string edges.
      */
    private def hasTerm(l: Column, c: Cur, cs: Boolean): Column = {
      val needle = c.next() match {
        case TStr(v) => v
        case t => fail(s"has takes a string literal, got $t")
      }
      hasNeedle(l, needle, cs)
    }

    /** Translate-time regex gate for the regex tier (`matches regex`,
      * `extract_all`, `parse kind=regex`): the pattern must compile,
      * and backreferences/lookaround — Java-regex features RE2 (and so
      * the oracle) lacks — are rejected loudly rather than silently
      * diverging (the q_pii_redact RE2∩Java subset rule).
      */
    private def checkedRegex(pat: String): String = {
      try java.util.regex.Pattern.compile(pat)
      catch {
        case e: java.util.regex.PatternSyntaxException =>
          fail(s"invalid regex '$pat': ${e.getDescription}")
      }
      if (pat.matches(".*\\\\[1-9].*") || pat.contains("(?=") ||
          pat.contains("(?!") || pat.contains("(?<=") || pat.contains("(?<!"))
        fail(s"regex '$pat' uses backreferences/lookaround — " +
          "outside the RE2-compatible subset")
      pat
    }

    /** Tukey-fence scores over a double array: exact interpolated
      * percentiles at (pLo, pHi), score = signed fence distance scaled
      * by the fence width, 0 inside (and everywhere when the fence
      * collapses), rounded to 4 dp. Shared by `series_outliers` and
      * `series_decompose_anomalies` (which scores the decomposition
      * residual with the default ctukey fences).
      */
    private def tukeyScores(ad: Column, pLo: Double, pHi: Double): Column = {
      def pct(srt: Column, p: Double): Column = {
        val pos = (size(srt) - 1).cast("double") * lit(p)
        val frac = pos - floor(pos)
        element_at(srt, floor(pos).cast("int") + 1) * (lit(1.0) - frac) +
          element_at(srt, ceil(pos).cast("int") + 1) * frac
      }
      // the sorted series and then the fences bind once per row, each as
      // the one element of an outer transform: an expression referenced
      // from a lambda body runs again at every reference, so inlined the
      // sort would run per percentile term and, in the per-element
      // lambda, per element
      val fences = transform(array(array_sort(ad)), srt =>
        struct(pct(srt, pLo).as("lo"), pct(srt, pHi).as("hi"),
          (pct(srt, pHi) - pct(srt, pLo)).as("d")))
      emptySeriesGuard(ad, flatten(transform(fences, f => transform(ad, x => round(
        when(f("d") <= 0, lit(0.0))
          .when(x > f("hi"), (x - f("hi")) / f("d"))
          .when(x < f("lo"), (x - f("lo")) / f("d"))
          .otherwise(lit(0.0)), 4)))))
    }

    /** The ADX whole-TERM match as a boundary regex (the shape the term
      * index serves natively in ADX).
      */
    private[ingest] def hasNeedle(l: Column, needle: String, cs: Boolean): Column = {
      val q = java.util.regex.Pattern.quote(needle)
      val flags = if (cs) "" else "(?i)"
      l.rlike(s"$flags(^|[^A-Za-z0-9_])$q($$|[^A-Za-z0-9_])")
    }

    /** Parenthesized string-literal list for has_any/has_all. */
    private def parseStrList(c: Cur): Seq[String] = {
      val items = parseLitList(c)
      val strs = items.collect { case s: String => s }
      if (strs.isEmpty || strs.size != items.size)
        fail("has_any/has_all take a non-empty list of string literals")
      strs
    }

    /** Parenthesized literal list for `in`: '(' lit (',' lit)* ')'. */
    /** Lowercase string literals for the case-insensitive list forms;
      * non-strings compare as themselves.
      */
    private def ciLit(v: Any): Any = v match {
      // Locale.ROOT: the column side uses Spark's locale-independent
      // lower(); a default-locale toLowerCase would diverge under e.g.
      // a Turkish JVM ('TITLE' -> 'tıtle') and silently miss matches
      case s: String => s.toLowerCase(java.util.Locale.ROOT)
      case other => other
    }

    private def parseLitList(c: Cur): Seq[Any] = {
      c.expect(TSym("("))
      val items = Seq.newBuilder[Any]
      var done = false
      while (!done) {
        items += (c.next() match {
          case TNum(v) => if (v.contains('.')) v.toDouble else v.toLong
          case TStr(v) => v
          case t => fail(s"in-list items must be literals, got $t")
        })
        c.next() match {
          case TSym(",") => ()
          case TSym(")") => done = true
          case t => fail(s"expected ',' or ')' in list, got $t")
        }
      }
      items.result()
    }

    // ------------------------------------------------------ arithmetic
    //   arith := mul (('+'|'-') mul)* ; mul := atom (('*'|'/') atom)*
    //   atom  := '(' arith ')' | fnCall | column | literal
    //   fnCall := bin(x, width) | ago(span) | now()

    private def parseArithToks(toks: Vector[Tok]): Column = {
      val c = new Cur(toks)
      val e = parseArith(c)
      if (!c.done) fail("trailing tokens after expression")
      e
    }

    private def parseArith(c: Cur): Column = {
      var l = parseMul(c)
      var cont = true
      while (cont) c.peek match {
        case Some(TSym("+")) => c.next(); l = l + parseMul(c)
        case Some(TSym("-")) => c.next(); l = l - parseMul(c)
        case _ => cont = false
      }
      l
    }

    private def parseMul(c: Cur): Column = {
      var l = parseAtom(c)
      var cont = true
      while (cont) c.peek match {
        case Some(TSym("*")) => c.next(); l = l * parseAtom(c)
        case Some(TSym("/")) => c.next(); l = l / parseAtom(c)
        // ADX % is C-style remainder (sign of the dividend) — exactly
        // Spark's Remainder, and DuckDB's % for the oracle
        case Some(TSym("%")) => c.next(); l = l % parseAtom(c)
        case _ => cont = false
      }
      l
    }

    private def parseAtom(c: Cur): Column = dynPath(c, parseAtom0(c))

    private def parseAtom0(c: Cur): Column = (c.peek, c.peek2) match {
      case (Some(TSym("(")), _) =>
        // parens admit the FULL predicate grammar: parseOr falls through
        // to plain arithmetic when no boolean operator is present, so
        // `(a + b) * 2`, `(a + b) > 3` and `(x == 1 or y == 2) and z`
        // all parse through this one branch
        c.next(); val e = parseOr(c); c.expect(TSym(")")); e
      case (Some(TIdent(fn)), Some(TSym("("))) => parseFnCall(c, fn)
      case _ => operand(c)
    }

    /** Postfix `dynamic` path access (the ADX telemetry idiom):
      * `p.key`, `p.a.b`, `p[0]`, `p['key']` compile to ONE
      * `get_json_object` over the JSON text with the accumulated
      * JSONPath — a codegen'd scan-side projection, never a parsed
      * object graph in the data path (`todynamic` itself is an
      * identity: dynamic IS the JSON text in this dialect, and every
      * access names its path explicitly). Values come back as strings,
      * exactly ADX's "dynamic access returns dynamic: wrap in
      * tolong()/todouble() to type it". `between (lo .. hi)`'s dot-dot
      * never matches (the second token is not a field name).
      */
    private def dynPath(c: Cur, base: Column): Column = {
      val path = new StringBuilder
      var cont = true
      while (cont) (c.peek, c.peek2) match {
        case (Some(TSym(".")), Some(TIdent(f))) =>
          c.next(); c.next(); path ++= s".$f"
        case (Some(TSym("[")), Some(TNum(i))) if !i.contains('.') =>
          c.next(); c.next(); c.expect(TSym("]")); path ++= s"[$i]"
        case (Some(TSym("[")), Some(TStr(k))) =>
          c.next(); c.next(); c.expect(TSym("]")); path ++= s"['$k']"
        case _ => cont = false
      }
      if (path.isEmpty) base else get_json_object(base, "$" + path)
    }

    /** Consume `... )` after an already-consumed `fn (`, splitting the
      * argument tokens on depth-0 commas. `now()` yields zero groups.
      */
    private def argGroups(c: Cur): Vector[Vector[Tok]] = {
      val groups = Vector.newBuilder[Vector[Tok]]
      var cur = Vector.newBuilder[Tok]
      var depth = 0
      var closed = false
      var nGroups = 0
      while (!closed) c.next() match {
        case TSym(")") if depth == 0 => closed = true
        case TSym(",") if depth == 0 =>
          groups += cur.result(); nGroups += 1; cur = Vector.newBuilder[Tok]
        case t =>
          t match {
            case TSym("(") => depth += 1
            case TSym(")") => depth -= 1
            case _ => ()
          }
          cur += t
      }
      val last = cur.result()
      val out = if (nGroups == 0 && last.isEmpty) Vector.empty[Vector[Tok]]
                else groups.result() :+ last
      if (out.exists(_.isEmpty)) fail("empty function argument")
      out
    }

    /** Scalar function calls. Temporal (`now`/`ago`/`bin`), conditional
      * (`iff`/`case` — their predicate arguments go through the full
      * predicate grammar), strings (`strcat`/`strlen`/`substring` —
      * ADX's 0-based start — /`split`/`extract`/`tolower`/`toupper`/
      * `trim`/`replace_string`), math (`round`/`abs`/`floor`/`sqrt`/
      * `exp`/`log`/`log10`/`pow`/`sign`/`min_of`/`max_of`), conversions
      * (`tostring`/`toint`/`tolong`/`todouble`/`toreal`/`todatetime` —
      * numeric narrowing TRUNCATES toward zero, the ADX/Spark shared
      * semantic, where DuckDB's CAST would round), date parts
      * (`startofday`/`startofhour`/`startofmonth`/`datetime_part`), and
      * null tests (`isnull`/`isnotnull`/`isempty`/`isnotempty` —
      * boolean-returning, usable bare in `where` via the predicate
      * fall-through, and `coalesce`). All translate to codegen'd
      * built-ins — no UDF anywhere in the dialect.
      */
    private def parseFnCall(c: Cur, fn: String): Column = {
      c.next(); c.next() // consume ident and '('
      val groups = argGroups(c)
      def nArgs(ns: Int*): Unit =
        if (!ns.contains(groups.length))
          fail(s"$fn() takes ${ns.mkString(" or ")} argument(s), got ${groups.length}")
      def arg(i: Int): Column = parseArithToks(groups(i))
      def pred(i: Int): Column = parsePredicate(groups(i))
      def litStr(i: Int): String = groups(i) match {
        case Vector(TStr(v)) => v
        case other => fail(s"$fn() argument ${i + 1} must be a string literal, got $other")
      }
      def litInt(i: Int): Int = groups(i) match {
        case Vector(TNum(v)) if !v.contains('.') => v.toInt
        case other => fail(s"$fn() argument ${i + 1} must be an integer literal, got $other")
      }
      fn match {
        case "now" => nArgs(0); nowTs
        case "ago" =>
          nArgs(1)
          groups(0) match {
            case Vector(TSpan(us)) =>
              nowTs - lit(java.time.Duration.of(us,
                java.time.temporal.ChronoUnit.MICROS))
            case other => fail(s"ago() takes a timespan literal, got $other")
          }
        case "bin" | "bin_at" | "floor" =>
          // bin(x, width) floors onto the width grid (`floor` is ADX's
          // documented alias); bin_at adds an anchor: bin_at(x, width,
          // anchor) aligns the grid to anchor
          nArgs(if (fn == "bin_at") 3 else 2)
          val x = arg(0)
          groups(1) match {
            case Vector(TSpan(us)) =>
              if (us <= 0) fail(s"$fn() width must be positive")
              // exact epoch-µs floor onto the grid — integer arithmetic,
              // so row-group stats and pushdown survive the projection
              val u = unix_micros(x.cast("timestamp"))
              val anchor: Column =
                if (fn == "bin_at") unix_micros(arg(2).cast("timestamp"))
                else lit(0L)
              timestamp_micros(u - pmod(u - anchor, lit(us)))
            case Vector(TNum(v)) =>
              val width: Column =
                if (v.contains('.')) lit(v.toDouble) else lit(v.toLong)
              val anchor: Column = if (fn == "bin_at") arg(2) else lit(0L)
              x - pmod(x - anchor, width)
            case other => fail(s"$fn() width must be a timespan or number, got $other")
          }
        case "iff" | "iif" =>
          nArgs(3); when(pred(0), arg(1)).otherwise(arg(2))
        case "case" =>
          // case(pred1, val1, ..., predN, valN, default)
          if (groups.length < 3 || groups.length % 2 == 0)
            fail("case() takes pred1, val1, ..., default (an odd count ≥ 3)")
          val default = arg(groups.length - 1)
          (0 until groups.length - 1 by 2).foldRight(default) { (i, acc) =>
            when(pred(i), arg(i + 1)).otherwise(acc)
          }
        case "coalesce" =>
          if (groups.isEmpty) fail("coalesce() needs at least one argument")
          coalesce(groups.indices.map(arg): _*)
        case "strcat" =>
          if (groups.isEmpty) fail("strcat() needs at least one argument")
          // ADX strcat treats null arguments as empty strings — concat_ws
          // skips nulls, where concat would null the whole result
          concat_ws("", groups.indices.map(i => arg(i).cast("string")): _*)
        case "strlen" => nArgs(1); length(arg(0))
        case "tolower" => nArgs(1); lower(arg(0))
        case "toupper" => nArgs(1); upper(arg(0))
        case "todynamic" | "parse_json" =>
          // dynamic IS the JSON text in this dialect (see [[dynPath]]):
          // the conversion is an identity and every access compiles to
          // get_json_object with its explicit path
          nArgs(1); arg(0)
        case "trim" =>
          // ADX trim(regex, text): remove ALL leading and trailing
          // matches of the regex — `^(re)+|(re)+$` via regexp_replace
          // (btrim would be char-SET semantics: trim('ab','ba') strips
          // everything where ADX strips nothing)
          nArgs(2)
          val re = litStr(0)
          regexp_replace(arg(1), "^(" + re + ")+|(" + re + ")+$", "")
        case "trim_start" =>
          // leading matches only (same regex-true semantics as trim)
          nArgs(2)
          regexp_replace(arg(1), "^(" + litStr(0) + ")+", "")
        case "trim_end" =>
          nArgs(2)
          regexp_replace(arg(1), "(" + litStr(0) + ")+$", "")
        case "replace_string" =>
          nArgs(3)
          // replace_string(text, lookup, rewrite) — literal, not regex
          replace(arg(0), arg(1), arg(2))
        case "substring" =>
          // ADX substring(source, start[, length]) with 0-BASED start;
          // Column.substr is 1-based
          nArgs(2, 3)
          val len: Column = if (groups.length == 3) arg(2) else lit(Int.MaxValue)
          arg(0).substr(arg(1).cast("int") + lit(1), len)
        case "split" =>
          // split(source, delimiter[, index]) — ADX delimiter is a
          // LITERAL string, Spark's is a regex: quote it. The 3-arg
          // form returns the 0-based index'th piece (null out of
          // range — `get` semantics, matching ADX's empty dynamic).
          nArgs(2, 3)
          val pieces = split(arg(0), java.util.regex.Pattern.quote(litStr(1)))
          if (groups.length == 3) get(pieces, arg(2).cast("int"))
          else pieces
        // ---- dynamic-array scalar family: every one a codegen'd
        // built-in over a real array column (split / extract_all /
        // pack_array outputs), with an exact DuckDB list twin
        case "array_length" =>
          nArgs(1); size(arg(0)).cast("long")
        case "array_index_of" =>
          // ADX: 0-based index of the first occurrence, -1 when absent
          nArgs(2); (array_position(arg(0), arg(1)) - 1).cast("long")
        case "array_slice" =>
          // ADX array_slice(arr, start, end): 0-based, END-INCLUSIVE;
          // this subset takes non-negative literals (ADX also accepts
          // negatives-from-the-end)
          nArgs(3)
          val sliceFrom = litInt(1)
          val sliceTo = litInt(2)
          if (sliceFrom < 0 || sliceTo < sliceFrom)
            fail("array_slice takes 0 <= start <= end in this subset")
          slice(arg(0), sliceFrom + 1, sliceTo - sliceFrom + 1)
        case "array_concat" =>
          if (groups.length < 2) fail("array_concat needs >= 2 arrays")
          concat((0 until groups.length).map(arg): _*)
        case "strcat_array" =>
          // strcat_array(arr, delimiter) — the array join
          nArgs(2); array_join(arg(0).cast("array<string>"), litStr(1))
        case "parse_url" =>
          // ADX parse_url: a dynamic of URL parts; ABSENT PARTS ARE
          // EMPTY STRINGS (the ADX contract). Dynamic IS JSON text in
          // this dialect ([[dynPath]]), so the result is a JSON object
          // assembled from codegen'd regexp_extracts — each pattern
          // RE2-safe (no backrefs/lookaround), so the DuckDB twin runs
          // the identical regexes. `Query` carries the raw query
          // string (the "Query Parameters" dict is out of this subset).
          nArgs(1)
          val u = arg(0)
          // JSON-escape each embedded part (backslash first, then
          // quote): without this a URL containing " or \ makes the
          // assembled dynamic malformed JSON and every part silently
          // reads back NULL through the path idiom
          def part(p: String) = regexp_replace(
            regexp_replace(regexp_extract(u, p, 1), "\\\\", "\\\\\\\\"),
            "\"", "\\\\\"")
          val auth = "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?"
          concat(
            lit("{\"Scheme\":\""), part("^([A-Za-z][A-Za-z0-9+.-]*)://"),
            lit("\",\"Host\":\""), part(auth + "([^:/?#]*)"),
            lit("\",\"Port\":\""), part(auth + "[^:/?#]*:([0-9]+)"),
            lit("\",\"Path\":\""),
            part("^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"),
            lit("\",\"Query\":\""), part("\\?([^#]*)"),
            lit("\",\"Fragment\":\""), part("#(.*)$"), lit("\"}"))
        case "url_decode" =>
          // application/x-www-form-urlencoded decode ('+' → space,
          // %XX → byte) — Spark's codegen'd built-in (java.net
          // .URLDecoder semantics); the oracle twin replays ASCII
          // percent-escapes with a split/fold
          nArgs(1); url_decode(arg(0))
        case "format_bytes" =>
          // format_bytes(size): the ADX human-readable byte formatter
          // at its default precision 0 — largest 1024-power unit with
          // value ≥ 1, half-up integer count. The tier pick and the
          // one rounding are plain IEEE compares on exact powers of
          // two — engine-identical
          nArgs(1)
          val b = arg(0).cast("double")
          def tier(p: Int) = lit(math.pow(1024.0, p))
          val u = when(b >= tier(5), 5).when(b >= tier(4), 4)
            .when(b >= tier(3), 3).when(b >= tier(2), 2)
            .when(b >= tier(1), 1).otherwise(0)
          val unit = element_at(array(lit("Bytes"), lit("KB"), lit("MB"),
            lit("GB"), lit("TB"), lit("PB")), u + lit(1))
          val v = floor(b / pow(lit(1024.0), u.cast("double")) + lit(0.5))
            .cast("long")
          concat(v.cast("string"), lit(" "), unit)
        case "has_all" | "has_any" =>
          // the FUNCTION forms over a dynamic array literal —
          // has_all(col, dynamic(['a','b'])) — saved ADX queries use
          // these beside the infix operator forms; same whole-term
          // boundary semantics ([[hasNeedle]]), AND/OR-folded into one
          // pushable Filter
          nArgs(2)
          val needles = groups(1) match {
            case TIdent("dynamic") +: TSym("(") +: TSym("[") +: mid
                if mid.endsWith(Vector(TSym("]"), TSym(")"))) =>
              splitOn(mid.dropRight(2), TSym(",")).map {
                case Vector(TStr(v)) => v
                case other =>
                  fail(s"$fn needs string literals in dynamic([...]), got $other")
              }
            case other =>
              fail(s"$fn(col, dynamic(['t1', ...])) — second arg must " +
                s"be a dynamic array literal, got $other")
          }
          if (needles.isEmpty) fail(s"$fn needs at least one needle")
          val terms = needles.map(hasNeedle(arg(0), _, cs = false))
          if (fn == "has_all") terms.reduce(_ && _) else terms.reduce(_ || _)
        case "pack_array" =>
          if (groups.isEmpty) fail("pack_array needs at least one element")
          array((0 until groups.length).map(arg): _*)
        case "extract" =>
          // extract(regex, captureGroup, text)
          nArgs(3); regexp_extract(arg(2), litStr(0), litInt(1))
        case "extract_all" =>
          // extract_all(regex, text) → dynamic array of EVERY match of
          // capture group 1 (the ADX single-group form; the multi-group
          // array-of-arrays return is out of subset). The pattern is
          // validated at translate time to carry at least one group —
          // group 1 on a group-less pattern is a runtime error in both
          // engines. Codegen'd regexp_extract_all; RE2∩Java patterns
          // only (the q_pii_redact rule), so the DuckDB twin is exact.
          nArgs(2)
          val eaPat = checkedRegex(litStr(0))
          if (java.util.regex.Pattern.compile(eaPat).matcher("").groupCount() < 1)
            fail("extract_all pattern needs at least one capture group")
          regexp_extract_all(arg(1), lit(eaPat), lit(1))
        case "extractjson" =>
          // extractjson(jsonPath, text) — JSONPath literal, string out
          nArgs(2); get_json_object(arg(1), litStr(0))
        case "indexof" =>
          // ADX indexof(source, lookup): 0-based, -1 when absent —
          // instr is 1-based with 0-absent, so the -1 shift covers both
          nArgs(2); (instr(arg(0), arg(1)) - lit(1)).cast("int")
        case "countof" =>
          // OVERLAPPING occurrence count — ADX's documented default
          // (countof('aaa','aa') = 2): one fold over every start
          // position. Needles that cannot self-overlap take the cheap
          // codegen'd replace form instead; the fold is reserved for
          // the needles where the semantics actually differ.
          nArgs(2)
          val sub = litStr(1)
          if (sub.isEmpty) fail("countof() search term must be non-empty")
          val L = sub.length
          val selfOverlaps =
            (1 until L).exists(k => sub.substring(k) == sub.substring(0, L - k))
          if (!selfOverlaps)
            ((length(arg(0)) - length(replace(arg(0), lit(sub), lit("")))) /
              lit(L)).cast("int")
          else {
            val n = length(arg(0)) - lit(L - 1)
            when(n >= 1, aggregate(sequence(lit(1), n), lit(0),
              (acc, i) => acc +
                when(arg(0).substr(i, lit(L)) === lit(sub), 1).otherwise(0)))
              .otherwise(lit(0)).cast("int")
          }
        case "materialize" =>
          fail("materialize() is only valid as a let binding " +
            "(`let name = materialize(...)`)")
        case "toscalar" =>
          // ADX evaluates toscalar() BEFORE the outer query and
          // constant-folds the result — the first column of the first
          // row of the inner tabular expression. The analog here is one
          // bounded 1-row action at translate time (the same class as
          // the Gateway's envelope collect); an empty result is a typed
          // null, per ADX. The folded literal then participates in
          // pushdown/pruning like any constant — which is exactly why
          // ADX folds it too.
          nArgs(1)
          val sub = pipeline(splitPipes(groups(0)))
          val dt = sub.schema.head.dataType
          dt match {
            case _: org.apache.spark.sql.types.ArrayType |
                _: org.apache.spark.sql.types.MapType |
                _: org.apache.spark.sql.types.StructType =>
              fail(s"toscalar over non-scalar column type $dt")
            case _ => ()
          }
          val row = sub.select(sub.columns.head).limit(1).collect()
          if (row.isEmpty || row(0).isNullAt(0)) lit(null).cast(dt)
          else lit(row(0).get(0))
        case "series_fir" =>
          // ADX series_fir(series, dynamic([w0, w1, ...])) — the FIR
          // filter / weighted moving average over a make-series array,
          // this subset's shape: integer literal weights, causal
          // (filter looks BACK: out[i] = Σ_j w_j·x[i−j]), zero-padded
          // edges, normalized by Σw. The convolution is exact decimal
          // arithmetic per element (integer weights × decimal-routed
          // terms), and the single normalize division is one IEEE op
          // on identical operands — fully deterministic cross-engine.
          // O(bins·|w|) per row over the bounded series grid.
          nArgs(2)
          val firA = arg(0)
          val firW: Seq[Long] = groups(1) match {
            case TIdent("dynamic") +: TSym("(") +: TSym("[") +: mid
                if mid.length >= 3 && mid.takeRight(2) == Vector(TSym("]"), TSym(")")) =>
              splitOn(mid.dropRight(2), TSym(",")).map {
                case Vector(TNum(v)) if !v.contains('.') => v.toLong
                case other => fail(s"series_fir weights must be integer literals, got $other")
              }
            case other =>
              fail(s"series_fir needs dynamic([w0, w1, ...]) integer weights, got $other")
          }
          if (firW.isEmpty || firW.sum == 0L)
            fail("series_fir needs a non-empty weight vector with a non-zero sum")
          import Exact.{d12, dec, zero}
          val wsum = lit(firW.sum.toDouble)
          emptySeriesGuard(firA, transform(sequence(lit(1), size(firA)), i => {
            val conv = firW.zipWithIndex.foldLeft(zero) { case (acc, (w, j)) =>
              (acc + when(i - j >= 1, dec(get(firA, i - j - 1)) * dec(lit(w)))
                .otherwise(zero)).cast(d12)
            }
            Exact.toD(conv) / wsum
          }))
        case "series_pearson_correlation" =>
          // ADX series_pearson_correlation(a, b): Pearson r between two
          // aligned series — the cross-series comparison primitive
          // (which metric tracks which). All five sums are exact
          // decimal folds (product sums leave decimal via the scale-6
          // rescale, the series_stats convention) and r is ONE fixed
          // IEEE expression both engines evaluate identically; a
          // zero-variance side or a length mismatch yields null.
          nArgs(2)
          val pcA = arg(0)
          val pcB = arg(1)
          val pn = size(pcA).cast("double")
          val psx = Exact.sum(pcA)
          val psy = Exact.sum(pcB)
          val psxy = Exact.prodSum(pcA, pcB)
          val psx2 = Exact.prodSum(pcA, pcA)
          val psy2 = Exact.prodSum(pcB, pcB)
          val pnum = pn * psxy - psx * psy
          val pden = sqrt((pn * psx2 - psx * psx) * (pn * psy2 - psy * psy))
          when(size(pcA) === size(pcB) && pden > 0, pnum / pden)
        case "series_decompose_forecast" =>
          // ADX series_decompose_forecast(series, points[, period]) —
          // the decompose tier's forecasting idiom: the model (trend
          // line + per-phase seasonal means) fits on the series MINUS
          // the trailing `points` slots, and the baseline trend+seasonal
          // is emitted for EVERY position — the last `points` entries
          // are the forecast. This dialect requires the period
          // explicitly (detection is out, same as series_decompose);
          // the arithmetic is the series_decompose recipe verbatim
          // (exact decimal sums, algebraic phase means, one fixed IEEE
          // expression), restricted to the train prefix. A row never
          // fails the query: an element whose forecast is undefined is
          // null — all of them when the train prefix has fewer than two
          // points (a series no longer than `points` has none), and a
          // horizon element whose phase has no train point.
          nArgs(3)
          val fcA = arg(0)
          val fcPoints = litInt(1)
          if (fcPoints < 1)
            fail("series_decompose_forecast needs points >= 1")
          val fcP = seriesPeriod(fn, litInt(2))
          val tr = slice(fcA, lit(1), greatest(size(fcA) - fcPoints, lit(0)))
          val fit = Exact.lineFit(tr)
          emptySeriesGuard(fcA, transform(Exact.idx(fcA), i =>
            fit.slope * i.cast("double") + fit.inter +
              Exact.phaseMean(tr, fcP, fit.slope, fit.inter)(i)))
        case "series_fill_const" =>
          // ADX series_fill_const(series[, c]): null bins → the
          // constant (0 when omitted). Pure per-element projection.
          nArgs(1, 2)
          val c = if (groups.length == 2) arg(1).cast("double") else lit(0.0)
          transform(arg(0), x => coalesce(x.cast("double"), c))
        case "series_fill_forward" =>
          // ADX series_fill_forward: each null bin takes the nearest
          // PRECEDING non-null value; leading nulls stay null. Per
          // position the carried value is the last non-null of the
          // prefix — O(bins²) array work per row, bounded by the
          // make-series grid (bins = range/step, corpus-independent),
          // zero shuffles. `get` (0-based, null on out-of-range) keeps
          // the empty-prefix case null under ANSI.
          nArgs(1)
          val a = arg(0)
          emptySeriesGuard(a,
            transform(sequence(lit(1), size(a)), i => {
              val pfx = filter(slice(a, lit(1), i), x => x.isNotNull)
              get(pfx, size(pfx) - 1).cast("double")
            }))
        case "series_fill_linear" =>
          // ADX series_fill_linear: interior null runs interpolate
          // linearly between the flanking non-nulls; leading/trailing
          // runs take the nearest non-null (ADX edge behavior). The
          // interpolation pv + (nv−pv)·(i−pj)/(nj−pj) is ONE fixed
          // IEEE expression the DuckDB twin mirrors operation-for-
          // operation (no rounding: identical doubles hash identically,
          // and a 4-dp round would hit dyadic grid ties like 1/32).
          // O(bins²) per row over the bounded series grid.
          nArgs(1)
          val a = arg(0)
          val nn = filter(
            transform(sequence(lit(1), size(a)), j =>
              struct(get(a, j - 1).cast("double").as("v"), j.as("j"))),
            p => p.getField("v").isNotNull)
          emptySeriesGuard(a, transform(sequence(lit(1), size(a)), i => {
            val cur = get(a, i - 1).cast("double")
            val pf = filter(nn, p => p.getField("j") <= i)
            val nf = filter(nn, p => p.getField("j") >= i)
            val prev = get(pf, size(pf) - 1)
            val nxt = get(nf, lit(0))
            val pv = prev.getField("v")
            val pj = prev.getField("j")
            val nv = nxt.getField("v")
            val nj = nxt.getField("j")
            when(cur.isNotNull, cur)
              .when(prev.isNull && nxt.isNull, lit(null).cast("double"))
              .when(prev.isNull, nv)
              .when(nxt.isNull, pv)
              .otherwise(pv + (nv - pv) *
                (i - pj).cast("double") / (nj - pj).cast("double"))
          }))
        case "series_outliers" =>
          // ADX series anomaly scoring over a make-series array —
          // Tukey fence scores from EXACT interpolated percentiles:
          // kind 'ctukey' (default) fences at p10/p90, 'tukey' at
          // p25/p75; score = (x - hi)/(hi - lo) above the fence,
          // (x - lo)/(hi - lo) below, 0 inside (and 0 everywhere when
          // the fence collapses). ADX computes the same fences from
          // sampled percentiles on long series; this subset's exact
          // interpolation is the deterministic, oracle-able form —
          // per-row array arithmetic only, nothing leaves the row.
          nArgs(1, 2)
          val kind = if (groups.length == 2) litStr(1) else "ctukey"
          val (pLo, pHi) = kind match {
            case "ctukey" => (0.10, 0.90)
            case "tukey" => (0.25, 0.75)
            case other => fail(s"series_outliers kind '$other' (ctukey/tukey)")
          }
          tukeyScores(transform(arg(0), x => x.cast("double")), pLo, pHi)
        case "reverse" => nArgs(1); reverse(arg(0))
        case "strcat_delim" =>
          if (groups.length < 2)
            fail("strcat_delim() needs a delimiter and at least one argument")
          concat_ws(litStr(0),
            (1 until groups.length).map(i => arg(i).cast("string")): _*)
        case "format_datetime" =>
          // pattern literal passes through to date_format: the common
          // ADX specifiers (yyyy MM dd HH mm ss) share Java semantics
          nArgs(2); date_format(arg(0), litStr(1))
        case "tohex" => nArgs(1); lower(hex(arg(0)))
        case "tobool" | "toboolean" => nArgs(1); arg(0).cast("boolean")
        case "base64_encode_tostring" =>
          nArgs(1); base64(arg(0).cast("binary"))
        case "base64_decode_tostring" =>
          nArgs(1); unbase64(arg(0)).cast("string")
        // strrep(v, n[, delim]) — v repeated n times, delim-joined
        // (the delimiter is a string literal in this subset)
        case "strrep" =>
          if (groups.length < 2 || groups.length > 3)
            fail("strrep takes (value, multiplier[, delimiter])")
          val delim = if (groups.length == 3) litStr(2) else ""
          array_join(array_repeat(arg(0).cast("string"),
            arg(1).cast("int")), delim)
        // array_sum folds in index order with double terms — exact for
        // integral arrays (< 2^53), the oracle-safe regime; the fold
        // order is the engines' shared list_sum order for doubles
        case "array_sum" =>
          nArgs(1)
          aggregate(arg(0), lit(0.0), (a, e) => a + e.cast("double"))
        case "array_sort_asc" => nArgs(1); sort_array(arg(0))
        case "array_sort_desc" => nArgs(1); sort_array(arg(0), asc = false)
        case "isnan" => nArgs(1); isnan(arg(0))
        case "round" =>
          nArgs(1, 2)
          if (groups.length == 2) round(arg(0), litInt(1)) else round(arg(0))
        case "abs" => nArgs(1); abs(arg(0))
        case "sqrt" => nArgs(1); sqrt(arg(0))
        case "exp" => nArgs(1); exp(arg(0))
        case "log" => nArgs(1); log(arg(0))
        case "log10" => nArgs(1); log10(arg(0))
        case "pow" => nArgs(2); pow(arg(0), arg(1))
        case "sign" => nArgs(1); signum(arg(0))
        case "min_of" =>
          if (groups.length < 2) fail("min_of() needs at least two arguments")
          least(groups.indices.map(arg): _*)
        case "max_of" =>
          if (groups.length < 2) fail("max_of() needs at least two arguments")
          greatest(groups.indices.map(arg): _*)
        case "tostring" => nArgs(1); arg(0).cast("string")
        case "toint" => nArgs(1); arg(0).cast("int")
        case "tolong" => nArgs(1); arg(0).cast("long")
        case "todouble" | "toreal" => nArgs(1); arg(0).cast("double")
        case "todatetime" => nArgs(1); arg(0).cast("timestamp")
        case "startofday" => nArgs(1); date_trunc("day", arg(0))
        case "startofhour" => nArgs(1); date_trunc("hour", arg(0))
        case "startofmonth" => nArgs(1); date_trunc("month", arg(0))
        case "startofyear" => nArgs(1); date_trunc("year", arg(0))
        // ADX weeks start SUNDAY; Spark/ISO date_trunc('week') is
        // Monday — shift one day in, truncate, shift back
        case "startofweek" =>
          nArgs(1)
          date_trunc("week", arg(0) + expr("interval 1 day")) -
            expr("interval 1 day")
        // the endof* family: next period start minus one µs (the
        // engine's timestamp resolution; ADX's is 100 ns ticks —
        // documented dialect)
        case "endofday" =>
          nArgs(1)
          timestamp_micros(unix_micros(date_trunc("day", arg(0))) +
            lit(86400000000L - 1L))
        case "endofhour" =>
          nArgs(1)
          timestamp_micros(unix_micros(date_trunc("hour", arg(0))) +
            lit(3600000000L - 1L))
        case "endofweek" =>
          nArgs(1)
          timestamp_micros(unix_micros(
            date_trunc("week", arg(0) + expr("interval 1 day")) -
              expr("interval 1 day")) + lit(7L * 86400000000L - 1L))
        case "endofmonth" =>
          nArgs(1)
          timestamp_micros(unix_micros(
            add_months(date_trunc("month", arg(0)), 1).cast("timestamp")) -
            lit(1L))
        case "endofyear" =>
          nArgs(1)
          timestamp_micros(unix_micros(
            add_months(date_trunc("year", arg(0)), 12).cast("timestamp")) -
            lit(1L))
        case "hourofday" => nArgs(1); hour(arg(0))
        case "dayofmonth" => nArgs(1); dayofmonth(arg(0))
        case "monthofyear" => nArgs(1); month(arg(0))
        case "getyear" => nArgs(1); year(arg(0))
        case "getmonth" => nArgs(1); month(arg(0))
        case "week_of_year" => nArgs(1); weekofyear(arg(0))
        // ---- scalar tier 5 (round 12): the datetime-arithmetic and
        // set-algebra band. datetime_diff counts BOUNDARY CROSSINGS
        // (the ADX/T-SQL DATEDIFF contract, d1 − d2), each part an
        // exact integer derivation: calendar parts from year/quarter/
        // month ordinals, week from Sunday-aligned days-since-epoch
        // (1970-01-04 is a Sunday; ADX weeks start Sunday, so DuckDB's
        // Monday-week date_diff is NOT the twin — the oracle replays
        // this exact formula), sub-day parts from truncated epoch-µs.
        case "datetime_diff" =>
          nArgs(3)
          val d1 = arg(1).cast("timestamp")
          val d2 = arg(2).cast("timestamp")
          def trUs(c: Column, p: String) = unix_micros(date_trunc(p, c))
          def subDay(usPer: Long) =
            ((trUs(d1, partName(usPer)) - trUs(d2, partName(usPer))) / lit(usPer))
          def partName(usPer: Long) = usPer match {
            case 3600000000L => "hour"
            case 60000000L => "minute"
            case _ => "second"
          }
          // Sunday-aligned week index: floorDiv of days since the
          // epoch's first Sunday (handles pre-1970 dates correctly
          // where a truncating division would round toward zero)
          def sundayWeek(c: Column) =
            floor(datediff(to_date(c), to_date(lit("1970-01-04"))).cast("double") / 7.0)
          // Locale.ROOT: under tr_TR, 'MINUTE'.toLowerCase is
          // 'mınute' (the ciLit lesson applied to part names)
          (litStr(0).toLowerCase(java.util.Locale.ROOT) match {
            case "year" => year(d1) - year(d2)
            case "quarter" =>
              (year(d1) * 4 + quarter(d1)) - (year(d2) * 4 + quarter(d2))
            case "month" =>
              (year(d1) * 12 + month(d1)) - (year(d2) * 12 + month(d2))
            case "week" => sundayWeek(d1) - sundayWeek(d2)
            case "day" => datediff(to_date(d1), to_date(d2))
            case "hour" => subDay(3600000000L)
            case "minute" => subDay(60000000L)
            case "second" => subDay(1000000L)
            case other => fail(s"datetime_diff: unsupported part '$other'")
          }).cast("long")
        // DIALECT: ADX dayofweek returns a TIMESPAN since the
        // preceding Sunday; this engine emits the integer day count
        // 0 (Sunday) … 6 (Saturday) — the value everyone bins on
        case "dayofweek" => nArgs(1); (dayofweek(arg(0)) - lit(1)).cast("int")
        case "make_datetime" =>
          nArgs(3, 6)
          if (groups.length == 3)
            make_timestamp(arg(0), arg(1), arg(2), lit(0), lit(0), lit(0))
          else make_timestamp(arg(0), arg(1), arg(2), arg(3), arg(4), arg(5))
        case "unixtime_seconds_todatetime" =>
          nArgs(1); timestamp_seconds(arg(0))
        case "unixtime_milliseconds_todatetime" =>
          nArgs(1); timestamp_millis(arg(0).cast("long"))
        case "unixtime_microseconds_todatetime" =>
          nArgs(1); timestamp_micros(arg(0).cast("long"))
        case "hash_md5" => nArgs(1); md5(arg(0).cast("binary"))
        case "hash_sha256" => nArgs(1); sha2(arg(0).cast("binary"), 256)
        // ADX translate(searchList, replacementList, text) — note the
        // text-LAST argument order vs Spark/SQL translate(text, ...)
        case "translate" =>
          nArgs(3)
          // Kql.translate (the dialect entry point) shadows the
          // functions._ char-map builtin here — call it qualified
          org.apache.spark.sql.functions.translate(
            arg(2), litStr(0), litStr(1))
        case "isinf" =>
          nArgs(1)
          abs(arg(0).cast("double")) === lit(Double.PositiveInfinity)
        case "isfinite" =>
          nArgs(1)
          val d = arg(0).cast("double")
          !isnan(d) && abs(d) =!= lit(Double.PositiveInfinity)
        // DIALECT: ADX set_* preserve first-appearance order; this
        // engine canonicalizes to SORTED distinct so the result is a
        // set in both value and representation (deterministic across
        // partitionings — what a 100 TB rerun needs)
        case "set_union" =>
          nArgs(2); array_sort(array_union(arg(0), arg(1)))
        case "set_intersect" =>
          nArgs(2); array_sort(array_intersect(arg(0), arg(1)))
        case "set_difference" =>
          nArgs(2); array_sort(array_except(arg(0), arg(1)))
        case "datetime_part" =>
          // datetime_part("hour", ts) → int, ADX part names lowercased
          nArgs(2)
          date_part(lit(litStr(0).toLowerCase(java.util.Locale.ROOT)),
            arg(1)).cast("int")
        // ---- IPv4 family: pure integer arithmetic end to end, so every
        // predicate stays codegen'd + pushable and the DuckDB twin is
        // bit-identical. parse_ipv4 → long (null on malformed/out-of-
        // range octets), format_ipv4 ← long or dotted string.
        case "parse_ipv4" => nArgs(1); parseIpv4(arg(0).cast("string"))
        case "format_ipv4" =>
          nArgs(1)
          // ADX accepts a long or a dotted string; a dotted string casts
          // to null long and falls through to the parse path
          // try_cast, not cast: under ANSI mode a dotted string would
          // THROW on the long probe instead of falling through null
          val ipl = coalesce(arg(0).try_cast("long"),
            parseIpv4(arg(0).cast("string")))
          when(ipl.isNotNull && ipl >= 0L && ipl <= 4294967295L, concat_ws(".",
            shiftright(ipl, 24).bitwiseAND(lit(255L)).cast("string"),
            shiftright(ipl, 16).bitwiseAND(lit(255L)).cast("string"),
            shiftright(ipl, 8).bitwiseAND(lit(255L)).cast("string"),
            ipl.bitwiseAND(lit(255L)).cast("string")))
        case "ipv4_is_private" =>
          // RFC 1918: 10.0.0.0/8, 172.16.0.0/12, 192.168.0.0/16
          nArgs(1)
          val ipl = parseIpv4(arg(0).cast("string"))
          (ipl >= 167772160L && ipl < 184549376L) ||
            (ipl >= 2886729728L && ipl < 2887778304L) ||
            (ipl >= 3232235520L && ipl < 3232301056L)
        case "ipv4_is_in_range" =>
          // cidr is a translate-time literal: the base/prefix fold to
          // constants, so the membership test is ONE shift + equality
          nArgs(2)
          val cidr = litStr(1)
          val (baseStr, prefix) = cidr.split("/") match {
            case Array(b, p) if p.forall(_.isDigit) && p.nonEmpty =>
              (b, p.toInt)
            case Array(b) => (b, 32)
            case _ => fail(s"ipv4_is_in_range: malformed range '$cidr'")
          }
          if (prefix < 0 || prefix > 32)
            fail(s"ipv4_is_in_range: prefix /$prefix out of [0, 32]")
          val base = baseStr.split("\\.") match {
            case Array(a, b, c, d)
                if Array(a, b, c, d).forall(o =>
                  o.nonEmpty && o.forall(_.isDigit) && o.toLong <= 255) =>
              a.toLong * 16777216L + b.toLong * 65536L +
                c.toLong * 256L + d.toLong
            case _ => fail(s"ipv4_is_in_range: malformed address in '$cidr'")
          }
          val shift = 32 - prefix
          shiftright(parseIpv4(arg(0).cast("string")), shift) ===
            lit(base >> shift)
        case "dynamic" =>
          // general literal-array form — dynamic(['a', ...]) usable as
          // a value wherever an array argument is expected (set_*,
          // array_*); the has_all/has_any needle lists keep their own
          // string-only fast path above. argGroups splits on top-level
          // commas (bracket-unaware), so re-join before re-splitting.
          if (groups.isEmpty) fail("dynamic() needs a literal")
          val joined = groups.reduce((a, b) => a ++ Vector(TSym(",")) ++ b)
          joined match {
            case TSym("[") +: mid :+ TSym("]") =>
              val items = splitOn(mid, TSym(",")).map {
                case Vector(TStr(v)) => lit(v)
                case Vector(TNum(v)) =>
                  if (v.contains('.')) lit(v.toDouble) else lit(v.toLong)
                case other =>
                  fail(s"dynamic([...]) items must be scalar literals, got $other")
              }
              array(items: _*)
            case other =>
              fail(s"dynamic() supports only array literals in value position, got $other")
          }
        case "isnull" => nArgs(1); arg(0).isNull
        case "isnotnull" => nArgs(1); arg(0).isNotNull
        case "isempty" => nArgs(1); coalesce(arg(0).cast("string"), lit("")) === lit("")
        case "isnotempty" => nArgs(1); coalesce(arg(0).cast("string"), lit("")) =!= lit("")
        case other => fail(s"unsupported function '$other'")
      }
    }


    /** Dotted-quad string → long, null when malformed (shape or any
      * octet > 255). One regex gate + integer arithmetic; the four
      * element_at(split) accesses are identical subtrees, so codegen's
      * subexpression elimination computes the split once per row.
      */
    private def parseIpv4(x: Column): Column = {
      val parts = split(x, "\\.")
      def oct(i: Int): Column = element_at(parts, i).cast("long")
      val valid = x.rlike("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$") &&
        greatest(oct(1), oct(2), oct(3), oct(4)) <= 255L
      when(valid, oct(1) * 16777216L + oct(2) * 65536L +
        oct(3) * 256L + oct(4))
    }

    private def operand(c: Cur): Column = c.next() match {
      case TIdent("true") => lit(true)
      case TIdent("false") => lit(false)
      // scalar lets shadow column references, like ADX's symbol scoping
      case TIdent(name) => letScalars.getOrElse(name, col(name))
      case TNum(v) =>
        if (v.contains('.')) lit(v.toDouble) else lit(v.toLong)
      case TStr(v) => lit(v)
      case TDate(us) => timestamp_micros(lit(us))
      // a bare timespan in arithmetic is a day-time interval, so
      // `ago(1h) + 30m` and `ts > now() - 1d` type-check as timestamps
      case TSpan(us) => lit(java.time.Duration.of(us,
        java.time.temporal.ChronoUnit.MICROS))
      case t => fail(s"expected a column, number, string, datetime, or timespan, got $t")
    }

    // ------------------------------------------------------ projection
    //   project := item (',' item)*
    //   item    := arith | ident '=' arith     (ADX computed-column form)

    private def parseProjection(toks: Vector[Tok]): Seq[Column] = {
      val items = splitOn(toks, TSym(","))
      if (items.isEmpty) fail("project needs at least one column")
      items.map {
        case Vector(TIdent(a)) => col(a)
        case TIdent(alias) +: TSym("=") +: expr if expr.nonEmpty =>
          parseArithToks(expr).as(alias)
        case expr => parseArithToks(expr)
      }
    }

    // --------------------------------------------------------- sort by
    //   keys := key (',' key)* ; key := ident ['asc' | 'desc']
    //   ADX default order is DESCENDING.

    private def parseSortKeys(toks: Vector[Tok]): Seq[Column] =
      splitOn(toks, TSym(",")).map {
        case Vector(TIdent(a)) => col(a).desc
        case Vector(TIdent(a), TIdent("desc")) => col(a).desc
        case Vector(TIdent(a), TIdent("asc")) => col(a).asc
        case _ => fail("sort keys must be `col [asc|desc]`")
      }

    /** project-rename items: `new = old` pairs. */
    private def parseRenameItems(toks: Vector[Tok]): Vector[(String, String)] =
      splitOn(toks, TSym(",")).map {
        case Vector(TIdent(to), TSym("="), TIdent(from)) => (to, from)
        case _ => fail("project-rename items must be `newName = oldName`")
      }

    /** Comma-separated bare column names (project-away, distinct, on). */
    private def parseNameList(toks: Vector[Tok]): Vector[String] =
      splitOn(toks, TSym(",")).map {
        case Vector(TIdent(a)) => a
        case other => fail(s"expected a column name, got $other")
      }
  }

  // ------------------------------------------------------------ cursor

  private final class Cur(toks: Vector[Tok]) {
    private var i = 0
    def peek: Option[Tok] = toks.lift(i)
    def peek2: Option[Tok] = toks.lift(i + 1)
    def next(): Tok =
      { val t = toks.lift(i).getOrElse(fail("unexpected end of expression")); i += 1; t }
    def done: Boolean = i >= toks.length
    def expect(t: Tok): Unit = if (next() != t) fail(s"expected $t")
  }
}
