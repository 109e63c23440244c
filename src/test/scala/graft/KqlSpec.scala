package graft

import graft.ingest.Kql
import org.apache.spark.sql.functions._

/** The CSL subset translator must (a) dispatch unambiguously against
  * SQL, (b) reproduce ADX operator semantics (default-desc sort,
  * case-insensitive string operators, the `Count` column), and (c) map
  * every stage to the pushable/prunable Catalyst node its DataFrame twin
  * would produce.
  */
class KqlSpec extends SparkSpec {
  import spark.implicits._

  private def ev = Tables.events(spark, sfDir)

  test("dialect dispatch: CSL shapes match, SQL shapes never do") {
    for (csl <- Seq("T", "OmyaData | take 100", "TelemetryData | count",
        "t | where a == 1 | project a"))
      assert(Kql.looksLikeCsl(csl), csl)
    for (sql <- Seq("SELECT 1", "select * from t", "WITH c AS (SELECT 1) SELECT * FROM c",
        "DROP TABLE t", "VALUES (1)", "SHOW TABLES", "SET x=1", "", "| take 5"))
      assert(!Kql.looksLikeCsl(sql), sql)
    // a malformed pipeline is still CSL-SHAPED: it dispatches to the CSL
    // parser and fails THERE with a parse error, not over in spark.sql
    assert(Kql.looksLikeCsl("T | take"))
  }

  test("where/project/sort/take translate to their SQL denotation") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | where event_type == 'click' and value >= 150.0 " +
        "| project event_id, user_id, value | sort by event_id asc | take 100")
      .collect().toSeq
    val want = ev.filter(col("event_type") === "click" && col("value") >= 150.0)
      .select("event_id", "user_id", "value")
      .orderBy(col("event_id").asc).limit(100)
      .collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("count emits the ADX column name Count; sort defaults to descending") {
    ev.createOrReplaceTempView("kql_events")
    val cnt = Kql.translate(spark, "kql_events | count")
    assert(cnt.columns.toSeq === Seq("Count"))
    assert(cnt.as[Long].head() === ev.count())
    // ADX `sort by x` is DESCENDING unless asc is given
    val top = Kql.translate(spark,
      "kql_events | sort by event_id | take 1 | project event_id")
      .as[Long].head()
    assert(top === ev.agg(max("event_id")).as[Long].head())
  }

  test("string operators are case-insensitive bare, case-sensitive with _cs") {
    Seq((1L, "Hello World"), (2L, "hello world"), (3L, "goodbye"))
      .toDF("id", "s").createOrReplaceTempView("kql_strs")
    def ids(csl: String) = Kql.translate(spark, csl)
      .select("id").as[Long].collect().toSet
    assert(ids("kql_strs | where s contains 'HELLO'") === Set(1L, 2L))
    assert(ids("kql_strs | where s contains_cs 'Hello'") === Set(1L))
    assert(ids("kql_strs | where s startswith 'heL'") === Set(1L, 2L))
    assert(ids("kql_strs | where s endswith 'WORLD'") === Set(1L, 2L))
    assert(ids("kql_strs | where s endswith_cs 'World'") === Set(1L))
    assert(ids("kql_strs | where not (s contains 'hello')") === Set(3L))
    assert(ids("kql_strs | where id == 3 or s contains_cs 'Hello'") === Set(1L, 3L))
  }

  test("project supports the ADX rename form and take/limit are synonyms") {
    ev.createOrReplaceTempView("kql_events")
    val renamed = Kql.translate(spark,
      "kql_events | project eid = event_id, value | sort by eid asc | limit 3")
    assert(renamed.columns.toSeq === Seq("eid", "value"))
    assert(renamed.count() === 3L)
  }

  test("a CSL where reaches the parquet scan as a pushed filter") {
    ev.createOrReplaceTempView("kql_events")
    val plan = Kql.translate(spark,
      "kql_events | where event_type == 'click' | project event_id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      plan)
    // datetime range predicates push too — at 100 TB this is what turns
    // an hour-window query into a handful of row groups
    val tplan = Kql.translate(spark,
      "kql_events | where ts_ts >= datetime(2024-01-05) | project event_id")
      .queryExecution.executedPlan.toString
    assert(tplan.contains("GreaterThanOrEqual(ts_ts,2024-01-05 00:00:00.0)"), tplan)
  }

  test("summarize: ADX default names, aliases, by-keys, exact dcount") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | summarize count(), mx = max(value), dcount(user_id) by event_type " +
        "| sort by event_type asc").collect().toSeq
    val want = ev.groupBy("event_type")
      .agg(count(lit(1)).as("count_"), max("value").as("mx"),
        count_distinct(col("user_id")).as("dcount_user_id"))
      .orderBy(col("event_type").asc).collect().toSeq
    assert(got === want)
    assert(got.nonEmpty)
    // global (no `by`) summarize produces one row
    val g = Kql.translate(spark, "kql_events | summarize n = count(), s = sum(event_id)")
    assert(g.columns.toSeq === Seq("n", "s"))
    assert(g.count() === 1L)
  }

  test("extend evaluates arithmetic with precedence and parentheses") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | extend a = value * 2 + 1, b = (value + 1) / 2 - user_id " +
        "| project event_id, a, b | sort by event_id asc | take 5").collect().toSeq
    val want = ev
      .withColumn("a", col("value") * 2 + 1)
      .withColumn("b", (col("value") + 1) / 2 - col("user_id"))
      .select("event_id", "a", "b").orderBy(col("event_id").asc).limit(5)
      .collect().toSeq
    assert(got === want)
    // unary minus still parses in comparisons and arithmetic
    assert(Kql.translate(spark,
      "kql_events | where value > -5 | extend c = value - 1 | count")
      .as[Long].head() === ev.filter(col("value") > -5).count())
  }

  test("top N by defaults to descending and compiles to a top-k, not a global sort") {
    ev.createOrReplaceTempView("kql_events")
    val df = Kql.translate(spark, "kql_events | top 3 by event_id | project event_id")
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    val want = ev.orderBy(col("event_id").desc).limit(3)
      .select("event_id").as[Long].collect().toSeq
    assert(df.as[Long].collect().toSeq === want)
    val asc = Kql.translate(spark, "kql_events | top 1 by event_id asc | project event_id")
      .as[Long].head()
    assert(asc === ev.agg(min("event_id")).as[Long].head())
  }

  test("distinct and the project-* family translate to their DataFrame twins") {
    ev.createOrReplaceTempView("kql_events")
    val d = Kql.translate(spark, "kql_events | distinct event_type")
      .as[String].collect().toSet
    assert(d === ev.select("event_type").distinct().as[String].collect().toSet)
    val away = Kql.translate(spark, "kql_events | project-away props, ts_ts")
    assert(away.columns.toSet === ev.columns.toSet -- Set("props", "ts_ts"))
    // project-keep preserves the TABLE's column order regardless of the list
    val keep = Kql.translate(spark, "kql_events | project-keep value, event_id")
    assert(keep.columns.toSeq === Seq("event_id", "value"))
    // project-rename renames in place, everything else untouched
    val ren = Kql.translate(spark, "kql_events | project-rename id = event_id, v = value")
    assert(ren.columns.toSet ===
      ev.columns.toSet -- Set("event_id", "value") ++ Set("id", "v"))
    // distinct * dedups whole rows
    val star = Kql.translate(spark, "kql_events | distinct * | count").as[Long].head()
    assert(star === ev.distinct().count())
  }

  test("in / !in literal lists and inclusive between translate correctly") {
    ev.createOrReplaceTempView("kql_events")
    def n(csl: String) = Kql.translate(spark, s"kql_events | where $csl | count")
      .as[Long].head()
    assert(n("event_type in ('click', 'purchase')") ===
      ev.filter(col("event_type").isin("click", "purchase")).count())
    assert(n("event_type !in ('click', 'purchase')") ===
      ev.filter(!col("event_type").isin("click", "purchase")).count())
    // ADX between is INCLUSIVE on both bounds
    assert(n("user_id between (10 .. 20)") ===
      ev.filter(col("user_id") >= 10 && col("user_id") <= 20).count())
    // fractional bounds and the no-space form both lex correctly
    assert(n("value between (0.5 .. 99.5)") ===
      ev.filter(col("value") >= 0.5 && col("value") <= 99.5).count())
    assert(n("user_id between (10..20)") === n("user_id between (10 .. 20)"))
    // malformed lists still 400
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | where event_type in (event_type)")
    }
  }

  test("datetime literals and timespan comparisons filter on the timestamp column") {
    ev.createOrReplaceTempView("kql_events")
    def n(csl: String) = Kql.translate(spark, s"kql_events | where $csl | count")
      .as[Long].head()
    val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    assert(n("ts_ts >= datetime(2024-01-15)") ===
      ev.filter(col("ts_ts") >= cut).count())
    // time-of-day and fractional-second forms parse too
    assert(n("ts_ts < datetime(2024-01-15 06:30:00)") ===
      ev.filter(col("ts_ts") < java.sql.Timestamp.valueOf("2024-01-15 06:30:00")).count())
    assert(n("ts_ts < datetime(2024-01-15T06:30:00.5)") ===
      ev.filter(col("ts_ts") < java.sql.Timestamp.valueOf("2024-01-15 06:30:00.5")).count())
    // timespan arithmetic against a datetime: ts < datetime(...) - 1d
    assert(n("ts_ts < datetime(2024-01-16) - 1d") === n("ts_ts < datetime(2024-01-15)"))
    // a malformed datetime is a loud 400, never a silent empty result
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | where ts_ts > datetime(notadate)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | where ts_ts > datetime(2024-13-40)")
    }
  }

  test("ago()/now() evaluate against an injectable now for deterministic replays") {
    ev.createOrReplaceTempView("kql_events")
    // pin "now" to 2024-01-16T00:00:00Z: ago(1d) is then 2024-01-15
    val now = java.time.Instant.parse("2024-01-16T00:00:00Z")
    val got = Kql.translate(spark,
      "kql_events | where ts_ts >= ago(1d) and ts_ts < now() | count",
      Some(now)).as[Long].head()
    val want = ev.filter(
      col("ts_ts") >= java.sql.Timestamp.valueOf("2024-01-15 00:00:00") &&
        col("ts_ts") < java.sql.Timestamp.valueOf("2024-01-16 00:00:00")).count()
    assert(got === want)
    assert(got > 0)
    // without injection, ago() runs against the wall clock: the whole
    // 2024 fixture is in the past, so ago(1h) matches nothing
    assert(Kql.translate(spark, "kql_events | where ts_ts > ago(1h) | count")
      .as[Long].head() === 0L)
  }

  test("bin() floors timestamps onto the grid and numbers onto multiples") {
    ev.createOrReplaceTempView("kql_events")
    // 15-minute bins: every bin key is a multiple of 900s and each
    // event's key is its own floor
    val binned = Kql.translate(spark,
      "kql_events | summarize n = count() by bin(ts_ts, 15m) | sort by ts_ts asc")
    val keys = binned.select(unix_micros(col("ts_ts"))).as[Long].collect()
    assert(keys.nonEmpty)
    assert(keys.forall(_ % (15L * 60 * 1000000) == 0))
    assert(binned.agg(sum("n")).as[Long].head() === ev.count())
    // the by-key keeps the source column's name (ADX behavior)
    assert(binned.columns.toSeq === Seq("ts_ts", "n"))
    // numeric bin: value floored to multiples of 50
    val nb = Kql.translate(spark,
      "kql_events | summarize n = count() by bin(value, 50) | sort by value asc")
    val nkeys = nb.select("value").as[Double].collect()
    assert(nkeys.forall(v => v % 50.0 == 0.0))
  }

  test("join: sub-pipeline right side, explicit kinds, innerunique default dedup") {
    ev.createOrReplaceTempView("kql_events")
    val joined = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| join kind=inner (kql_events | where event_type == 'click' " +
        "| summarize clicks = count() by user_id) on user_id " +
        "| summarize n = count(), c = max(clicks) by user_id | sort by user_id asc")
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy("user_id").agg(count(lit(1)).as("clicks"))
    val want = ev.filter(col("event_type") === "purchase")
      .join(clicks, Seq("user_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), max("clicks").as("c"))
      .orderBy("user_id").collect().toSeq
    assert(joined.collect().toSeq === want)
    assert(want.nonEmpty)
    // leftouter keeps purchase users with no clicks (count stays bigger)
    val lo = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| join kind=leftouter (kql_events | where event_type == 'click' " +
        "| summarize clicks = count() by user_id) on user_id | count").as[Long].head()
    val inner = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| join kind=inner (kql_events | where event_type == 'click' " +
        "| summarize clicks = count() by user_id) on user_id | count").as[Long].head()
    assert(lo >= inner)
    assert(lo === ev.filter(col("event_type") === "purchase").count())
    // ADX default (no kind=) is innerunique: left deduplicated on the key
    val iu = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' | project user_id " +
        "| join (kql_events | where event_type == 'click' " +
        "| summarize clicks = count() by user_id) on user_id | count").as[Long].head()
    val distinctBuyers = ev.filter(col("event_type") === "purchase")
      .select("user_id").distinct()
      .join(clicks, Seq("user_id")).count()
    assert(iu === distinctBuyers)
    // anti joins translate too
    val anti = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| join kind=leftanti (kql_events | where event_type == 'click') on user_id " +
        "| count").as[Long].head()
    // anti and inner partition the purchase rows between them
    assert(anti + inner === lo)
  }

  test("join on $left.x == $right.y: both keys kept, right collisions get the `1` suffix") {
    ev.createOrReplaceTempView("kql_events")
    // differently-named keys: the explicit form joins user_id to uid and
    // keeps BOTH columns in the output (no using-merge)
    val got = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| project event_id, user_id, value " +
        "| join kind=inner (kql_events | where event_type == 'click' " +
        "| project uid = user_id, value " +
        "| summarize clicks = count(), value = max(value) by uid) " +
        "on $left.user_id == $right.uid " +
        "| sort by event_id asc")
    // output schema: left columns first, then right's, with the colliding
    // `value` renamed value1 by the ADX next-free-`1` suffix rule
    assert(got.columns.toSeq ===
      Seq("event_id", "user_id", "value", "uid", "clicks", "value1"))
    val clicks = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("uid"))
      .agg(count(lit(1)).as("clicks"), max("value").as("value1"))
    val want = ev.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
      .join(clicks, col("user_id") === col("uid"))
      .select(col("event_id"), col("user_id"), col("value"),
        col("uid"), col("clicks"), col("value1"))
      .orderBy("event_id").collect().toSeq
    assert(got.collect().toSeq === want)
    assert(want.nonEmpty)
    // both key columns agree row-for-row (the equality held)
    assert(got.filter(col("user_id") =!= col("uid")).count() === 0)
    // the swapped side order ($right before $left) binds identically
    val swapped = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        "| project event_id, user_id, value " +
        "| join kind=inner (kql_events | where event_type == 'click' " +
        "| project uid = user_id, value " +
        "| summarize clicks = count(), value = max(value) by uid) " +
        "on $right.uid == $left.user_id " +
        "| sort by event_id asc")
    assert(swapped.collect().toSeq === want)
    // mixed bare + explicit keys translate together
    val mixed = Kql.translate(spark,
      "kql_events | project event_id, user_id, event_type " +
        "| join kind=inner (kql_events " +
        "| project uid = user_id, event_type " +
        "| summarize n = count() by uid, event_type) " +
        "on $left.user_id == $right.uid, event_type " +
        "| sort by event_id asc")
    assert(mixed.columns.toSeq ===
      Seq("event_id", "user_id", "event_type", "uid", "event_type1", "n"))
    assert(mixed.count() === ev.count())
  }

  test("rightsemi/rightanti keep the right schema and partition the right rows") {
    ev.createOrReplaceTempView("kql_events")
    val right = "(kql_events | where event_type == 'click' | project uid = user_id, value)"
    def n(kind: String): Long = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        s"| join kind=$kind $right on $$left.user_id == $$right.uid | count")
      .as[Long].head()
    val clickRows = ev.filter(col("event_type") === "click").count()
    assert(n("rightsemi") + n("rightanti") === clickRows)
    // the rightsemi output schema is the RIGHT side's, unrenamed
    val rs = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' " +
        s"| join kind=rightsemi $right on $$left.user_id == $$right.uid")
    assert(rs.columns.toSeq === Seq("uid", "value"))
    // and equals the click rows whose uid appears among purchase users
    val buyers = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("uid")).distinct()
    val wantSemi = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("uid"), col("value"))
      .join(buyers, Seq("uid"), "left_semi").count()
    assert(n("rightsemi") === wantSemi)
    // same-named bare keys admit the right-flavored kinds too
    val rsBare = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' | project user_id " +
        "| join kind=rightsemi (kql_events | where event_type == 'click' " +
        "| project user_id, value) on user_id | count").as[Long].head()
    assert(rsBare === wantSemi)
    // a broadcast hint on a right-flavored kind repoints to the probe
    // set (the only buildable side after the swap) — same result, and
    // the plan actually carries a broadcast join
    val rsHinted = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' | project user_id " +
        "| join hint.strategy=broadcast kind=rightsemi (kql_events " +
        "| where event_type == 'click' | project user_id, value) on user_id")
    assert(rsHinted.count() === wantSemi)
    assert(rsHinted.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
  }

  test("lookup with explicit keys drops the right key column, per the ADX contract") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | project event_id, user_id, value " +
        "| lookup (kql_events | where event_type == 'click' " +
        "| project uid = user_id, value | summarize clicks = count(), " +
        "value = max(value) by uid) on $left.user_id == $right.uid")
    // the right KEY column uid is excluded; non-key right columns stay
    // (colliding value still takes the `1` suffix)
    assert(got.columns.toSeq ===
      Seq("event_id", "user_id", "value", "clicks", "value1"))
    // leftouter default: every fact row survives
    assert(got.count() === ev.count())
  }

  test("top-nested with others: complement totals conserve; non-decomposable rejected") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | extend ub = tostring(user_id % 5) " +
        "| top-nested 2 of event_type with others = 'OTHER' by cnt = count(), " +
        "top-nested 2 of ub with others = 'rest' by n = count()").cache()
    assert(got.columns.toSeq === Seq("event_type", "cnt", "ub", "n"))
    // level-1 conservation: kept types + OTHER bucket = corpus rows
    val l1 = got.select("event_type", "cnt").distinct()
      .as[(String, Long)].collect().toMap
    assert(l1.values.sum === ev.count())
    assert(l1.contains("OTHER"))
    // the OTHER row carries null deeper columns
    val otherRows = got.filter($"event_type" === "OTHER").collect()
    assert(otherRows.length === 1 && otherRows(0).isNullAt(2) && otherRows(0).isNullAt(3))
    // level-2 conservation per kept type: kept ubs + rest = type count
    got.filter($"event_type" =!= "OTHER").collect()
      .groupBy(_.getString(0)).foreach { case (et, rows) =>
        assert(rows.map(_.getLong(3)).sum === l1(et), s"type $et")
        assert(rows.exists(_.getString(2) == "rest"), s"type $et rest bucket")
      }
    // non-decomposable aggregates cannot form an others bucket
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | top-nested 2 of event_type with others = 'x' by avg(value)")
    }
  }

  test("scan declare: static counter fold per matched step; general mutation rejected") {
    // a planted sequence with a known match structure: one entity whose
    // rows hit s1, s2, s3 in order plus decoys between
    val rows = Seq(
      (1L, 10L, "signup"), (1L, 11L, "noise"), (1L, 12L, "click"),
      (1L, 13L, "click"), (1L, 14L, "purchase"),
      (2L, 20L, "click"), (2L, 21L, "signup"), (2L, 22L, "click"))
      .toDF("uid", "seq", "et")
    rows.createOrReplaceTempView("scan_state_src")
    val got = Kql.translate(spark,
      "scan_state_src | partition by uid (sort by seq asc " +
        "| scan declare (hops: long = 0, bonus: long = 10) with (" +
        "step s1: et == 'signup' => hops = hops + 1; " +
        "step s2: et == 'click' => hops = hops + 1, bonus = bonus - 3; " +
        "step s3: et == 'purchase' => hops = hops + 1, bonus = 100;)) " +
        "| sort by uid asc, seq asc")
      .select("uid", "seq", "hops", "bonus")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // entity 1 completes the chain (first click AFTER signup matches);
    // entity 2 stalls after s2 (no purchase) and still emits the prefix
    assert(got === Seq(
      (1L, 10L, 1L, 10L), (1L, 12L, 2L, 7L), (1L, 14L, 3L, 100L),
      (2L, 21L, 1L, 10L), (2L, 22L, 2L, 7L)))
    // general mutation stays out of subset, loudly
    def rejects(scanBody: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](Kql.translate(spark,
        "scan_state_src | partition by uid (sort by seq asc | scan " + scanBody + ")"))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    rejects("declare (x: long) with (step a: et == 'signup' => x = x * 2;)",
      "restricted")
    rejects("declare (x: long, y: long) with (step a: et == 'signup' => x = y + 1;)",
      "restricted")
    rejects("declare (x: long) with (step a: et == 'signup' => y = 1;)",
      "not declared")
    rejects("declare (x: real) with (step a: et == 'signup';)",
      "integer state")
    rejects("declare (x: long = 0.5) with (step a: et == 'signup';)",
      "integers")
    rejects("declare (x: long = 1, x: long = 5) with (step a: et == 'signup';)",
      "declared twice")
    rejects("declare (et: long) with (step a: et == 'signup';)",
      "shadows")
  }

  test("scan declare: affine DATA-DEPENDENT state — accumulate and reset from matched rows") {
    // each step matches once, so `x = x + expr` folds to the sum of
    // the MATCHED rows' expression values; `x = expr` resets to the
    // matched row's value. Entity 1 completes; entity 2 stalls after
    // s2 and still carries its partial sum.
    val rows = Seq(
      (1L, 10L, "signup", 7L), (1L, 11L, "noise", 100L), (1L, 12L, "click", 20L),
      (1L, 13L, "click", 999L), (1L, 14L, "purchase", 300L),
      (2L, 20L, "click", 50L), (2L, 21L, "signup", 4L), (2L, 22L, "click", 6L))
      .toDF("uid", "seq", "et", "amt")
    rows.createOrReplaceTempView("scan_dyn_src")
    val got = Kql.translate(spark,
      "scan_dyn_src | partition by uid (sort by seq asc " +
        "| scan declare (total: long = 0, mk: long = -1) with (" +
        "step s1: et == 'signup' => total = total + amt; " +
        "step s2: et == 'click' => total = total + amt * 2, mk = seq; " +
        "step s3: et == 'purchase' => total = total - amt, mk = seq + 1;)) " +
        "| sort by uid asc, seq asc")
      .select("uid", "seq", "total", "mk")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // entity 1: s1@10 (total 7), s2@12 (7 + 2*20 = 47, mk 12),
    // s3@14 (47 - 300 = -253, mk 15); entity 2: s1@21 (4), s2@22
    // (4 + 12 = 16, mk 22) — stalled, prefix still emitted
    assert(got === Seq(
      (1L, 10L, 7L, -1L), (1L, 12L, 47L, 12L), (1L, 14L, -253L, 15L),
      (2L, 21L, 4L, -1L), (2L, 22L, 16L, 22L)))
    // the static literal class still folds identically alongside
    // data-dependent assignments in the same scan
    val mixed = Kql.translate(spark,
      "scan_dyn_src | partition by uid (sort by seq asc " +
        "| scan declare (n: long = 0, tot: long = 0) with (" +
        "step s1: et == 'signup' => n = n + 1, tot = tot + amt; " +
        "step s2: et == 'click' => n = n + 1, tot = tot + amt;)) " +
        "| sort by uid asc, seq asc")
      .select("uid", "seq", "n", "tot")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(mixed === Seq(
      (1L, 10L, 1L, 7L), (1L, 12L, 2L, 27L),
      (2L, 21L, 1L, 4L), (2L, 22L, 2L, 10L)))
    // non-integer expressions must be wrapped; unresolvable columns
    // fail loudly at translate time
    def rejects(scanBody: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](Kql.translate(spark,
        "scan_dyn_src | partition by uid (sort by seq asc | scan " + scanBody + ")"))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    rejects("declare (x: long) with (step a: et == 'signup' => x = x + 0.5;)",
      "integers")
    rejects("declare (x: long) with (step a: et == 'signup' => x = x + amt * 1.5;)",
      "integer-typed")
    rejects("declare (x: long) with (step a: et == 'signup' => x = nosuchcol;)",
      "does not resolve")
  }

  test("autocluster/diffpatterns: wildcard cube, dominance prune, loud arg errors") {
    ev.createOrReplaceTempView("kql_events")
    val ac = Kql.translate(spark,
      "kql_events | project event_type, ub = tostring(user_id % 3) " +
        "| evaluate autocluster(0.5)").cache()
    assert(ac.columns.toSeq ===
      Seq("segment_id", "count_", "percent", "event_type", "ub"))
    val rows = ac.collect()
    assert(rows.nonEmpty)
    // segment ids are dense from 0 in falling-count order
    assert(rows.map(_.getLong(0)).toSeq === rows.indices.map(_.toLong))
    assert(rows.map(_.getLong(1)).toSeq === rows.map(_.getLong(1)).sortBy(-_).toSeq)
    // every surviving pattern clears the 5% coverage cut (w = 0.5)
    val total = ev.filter($"event_type".isNotNull && $"user_id".isNotNull).count()
    assert(rows.forall(r => r.getLong(1) >= math.ceil(total * 0.05).toLong))
    // dominance: no survivor is refined by another survivor keeping
    // >= half its rows (the contract the prune enforces)
    def spec(r: org.apache.spark.sql.Row) =
      Seq(3, 4).count(i => !r.isNullAt(i))
    def refines(q: org.apache.spark.sql.Row, p: org.apache.spark.sql.Row) =
      Seq(3, 4).forall(i => p.isNullAt(i) || (!q.isNullAt(i) && q.get(i) == p.get(i)))
    for (p <- rows; q <- rows if spec(q) > spec(p) && refines(q, p))
      assert(q.getLong(1) * 2 < p.getLong(1),
        s"pattern $p should have been dominated by $q")
    // percent is count/total exactly
    rows.foreach(r =>
      assert(r.getDouble(2) === r.getLong(1).toDouble / total.toDouble))

    val dp = Kql.translate(spark,
      "kql_events | project event_type, grp = iff(value >= 50.0, 'hi', 'lo') " +
        "| evaluate diffpatterns(grp, 'hi', 'lo')").cache()
    assert(dp.columns.toSeq === Seq("segment_id", "count_a", "count_b",
      "percent_a", "percent_b", "percent_diff", "event_type"))
    val dRows = dp.collect()
    assert(dRows.nonEmpty)
    // ranked by falling |percent_diff|
    val diffs = dRows.map(r => math.abs(r.getDouble(5)))
    assert(diffs.toSeq === diffs.sortBy(-_).toSeq)
    // cohort counts conserve: each pattern's a+b equals its event_type count
    val byType = ev.filter($"event_type".isNotNull && $"value".isNotNull)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    dRows.filter(!_.isNullAt(6)).foreach { r =>
      assert(r.getLong(1) + r.getLong(2) === byType(r.getString(6)))
    }

    def rejects(q: String): Unit =
      intercept[IllegalArgumentException](Kql.translate(spark, q))
    rejects("kql_events | project event_type | evaluate autocluster(1.5)")
    rejects("kql_events | evaluate autocluster(0.5)") // 6+ columns in scope
    rejects("kql_events | project event_type, grp = 'x' | evaluate diffpatterns(grp, 'a', 'a')")
    rejects("kql_events | project event_type | evaluate diffpatterns(missing, 'a', 'b')")
  }

  test("non-equi $left/$right join keys and malformed sides fail loudly") {
    ev.createOrReplaceTempView("kql_events")
    def rejects(q: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](Kql.translate(spark, q))
      assert(e.getMessage.toLowerCase.contains(frag), e.getMessage)
    }
    rejects("kql_events | join kind=inner (kql_events) on $left.user_id > $right.user_id",
      "equalities")
    rejects("kql_events | join kind=inner (kql_events) on $left.user_id == $left.user_id",
      "sides")
    rejects("kql_events | join kind=inner (kql_events) on $left.user_id", "join key")
  }

  test("mv-expand unnests arrays; parse extracts via one anchored regex") {
    Seq((1L, Seq("a", "b", "c")), (2L, Seq("d")), (3L, Seq.empty[String]))
      .toDF("id", "xs").createOrReplaceTempView("kql_arrays")
    val ex = Kql.translate(spark,
      "kql_arrays | mv-expand xs | summarize n = count() by id | sort by id asc")
      .as[(Long, Long)].collect().toSeq
    // ADX default: the empty array row vanishes
    assert(ex === Seq((1L, 3L), (2L, 1L)))
    Seq((1L, "k=alpha;v=1"), (2L, "k=beta;v=2"), (3L, "garbage"))
      .toDF("id", "s").createOrReplaceTempView("kql_parse")
    val p = Kql.translate(spark,
      "kql_parse | parse s with 'k=' key ';v=' ver " +
        "| project id, key, ver | sort by id asc")
      .as[(Long, String, String)].collect().toSeq
    // non-matching rows keep empty strings (regexp_extract semantics)
    assert(p === Seq((1L, "alpha", "1"), (2L, "beta", "2"), (3L, "", "")))
    // kind=simple is accepted, other kinds 400
    assert(Kql.translate(spark,
      "kql_parse | parse kind=simple s with 'k=' key ';' * | count")
      .as[Long].head() === 3L)
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_parse | parse kind=regex s with 'k=(.*)'")
    }
  }

  test("constructs outside the subset fail loudly, never silently") {
    ev.createOrReplaceTempView("kql_events")
    for (bad <- Seq(
        "kql_events | mv-apply x on (summarize count())",
        "kql_events | make-series n = count() on ts_ts step 1h",
        "kql_events | join kind=cross (kql_events) on event_id",
        "kql_events | join kind=inner kql_events",
        "kql_events | summarize hll(user_id) by event_type",
        "kql_events | summarize percentile(value, 950) by event_type",
        "kql_events | extend a = case(value > 1, 'x', 'y', 'z')",
        "kql_events | union kind=sideways kql_events",
        "kql_events | make-series n = count() on ts_ts from datetime(2024-01-01) to datetime(2024-01-02) step 0h by user_id",
        "let ; kql_events | count",
        "kql_events | count; let x = 1",
        "kql_events | extend a = ",
        "kql_events | take",
        "kql_events | where value ~ 3",
        "kql_events | where ts_ts > ago(5x)",
        "kql_events | project ",
        "kql_events |"))
      intercept[IllegalArgumentException] { Kql.translate(spark, bad) }
  }

  test("let: scalar constants and tabular sub-pipelines, CTE-style") {
    ev.createOrReplaceTempView("kql_events")
    assert(Kql.looksLikeCsl("let x = 1; T | count"))
    val got = Kql.translate(spark,
      "let cutoff = 150.0; " +
        "let clicks = kql_events | where event_type == 'click'; " +
        "clicks | where value >= cutoff | summarize n = count() by user_id " +
        "| sort by user_id asc").collect().toSeq
    val want = ev.filter(col("event_type") === "click" && col("value") >= 150.0)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("user_id").asc).collect().toSeq
    assert(got === want && got.nonEmpty)
    // a scalar let shadows nothing it shouldn't: columns still resolve
    val mixed = Kql.translate(spark,
      "let k = 2; kql_events | extend d = value * k | project event_id, d | take 1")
    assert(mixed.columns.toSeq === Seq("event_id", "d"))
  }

  test("union: outer aligns by name with nulls, inner keeps common columns") {
    ev.createOrReplaceTempView("kql_events")
    val outer = Kql.translate(spark,
      "kql_events | where event_type == 'click' | project event_id, user_id " +
        "| union (kql_events | where event_type == 'purchase' | project event_id, value)")
    assert(outer.columns.toSeq === Seq("event_id", "user_id", "value"))
    val nClick = ev.filter(col("event_type") === "click").count()
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(outer.count() === nClick + nPurch)
    assert(outer.filter(col("value").isNull).count() === nClick)
    val inner = Kql.translate(spark,
      "kql_events | where event_type == 'click' | project event_id, user_id " +
        "| union kind=inner (kql_events | where event_type == 'purchase' | project value, event_id)")
    assert(inner.columns.toSeq === Seq("event_id"))
    assert(inner.count() === nClick + nPurch)
  }

  test("make-series: fixed slot count, anchored bins, default fill, time axis") {
    ev.createOrReplaceTempView("kql_events")
    val df = Kql.translate(spark,
      "kql_events | make-series n = count() default = 0, vm = max(value) " +
        "on ts_ts from datetime(2024-01-01) to datetime(2024-01-08) step 1d by event_type")
    assert(df.columns.toSeq === Seq("event_type", "n", "vm", "ts_ts"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // exactly (to-from)/step slots per group, axis sorted on the grid
      assert(r.getSeq[Long](1).length === 7)
      assert(r.getSeq[Any](3).length === 7)
    }
    // the total of the count series equals the range's row count
    val total = rows.map(_.getSeq[Long](1).sum).sum
    val want = ev.filter(col("ts_ts") >= "2024-01-01" && col("ts_ts") < "2024-01-08").count()
    assert(total === want)
  }

  test("summarize tier 2: arg_max/arg_min, conditional aggs, percentile, make_set") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | summarize am = arg_max(event_id, value), an = arg_min(event_id, value), " +
        "hi = countif(value > 100), s = sumif(event_id, value < 50), " +
        "p = percentile(value, 50), st = stdev(value), ms = make_set(event_type) " +
        "by user_id | sort by user_id asc")
    val want = ev.groupBy("user_id").agg(
      max_by(col("value"), col("event_id")).as("am"),
      min_by(col("value"), col("event_id")).as("an"),
      count_if(col("value") > 100).as("hi"),
      sum(when(col("value") < 50, col("event_id"))).as("s"),
      percentile(col("value"), lit(0.5)).as("p"),
      stddev_samp(col("value")).as("st"),
      array_sort(collect_set(col("event_type"))).as("ms"))
      .orderBy(col("user_id").asc)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("scalar functions: conditionals, strings, truncating conversions, date parts") {
    Seq((1L, "Alpha", 2.9, "2024-03-05 14:30:00"),
        (2L, "beta", -2.9, "2024-07-01 03:00:00"),
        (3L, null.asInstanceOf[String], 0.0, "2024-01-01 00:00:00"))
      .toDF("id", "s", "v", "t")
      .withColumn("ts", to_timestamp($"t"))
      .createOrReplaceTempView("kql_fn")
    val r = Kql.translate(spark,
      "kql_fn | extend i = toint(v), c = iff(v > 0, 'pos', 'nonpos'), " +
        "b = case(v > 1.0, 'big', v > -1.0, 'small', 'neg'), " +
        "t3 = strcat(tolower(s), '/', substring(s, 1, 2)), " +
        "h = datetime_part('hour', ts), e = isempty(s), " +
        "m = max_of(v, 0.5), piece = split('a-b-c', '-'), " +
        "x = extract('([0-9]+)', 1, strcat('v', tostring(id))) " +
        "| project id, i, c, b, t3, h, e, m, x, piece " +
        "| sort by id asc").collect()
    // toint TRUNCATES toward zero (ADX/Spark), never rounds
    assert(r.map(_.getInt(1)).toSeq === Seq(2, -2, 0))
    assert(r.map(_.getString(2)).toSeq === Seq("pos", "nonpos", "nonpos"))
    assert(r.map(_.getString(3)).toSeq === Seq("big", "neg", "small"))
    // ADX substring START IS 0-BASED: substring('Alpha', 1, 2) = 'lp'
    assert(r(0).getString(4) === "alpha/lp")
    // ADX strcat treats null arguments as EMPTY strings, never nulls
    assert(r(2).getString(4) === "/")
    assert(r.map(_.getInt(5)).toSeq === Seq(14, 3, 0))
    assert(r.map(_.getBoolean(6)).toSeq === Seq(false, false, true))
    assert(r.map(_.getDouble(7)).toSeq === Seq(2.9, 0.5, 0.5))
    assert(r.map(_.getString(8)).toSeq === Seq("1", "2", "3"))
    assert(r(0).getSeq[String](9) === Seq("a", "b", "c"))
  }

  test("top-nested: hierarchical top-N with per-prefix cuts and key tie-break") {
    ev.createOrReplaceTempView("kql_events")
    val rows = Kql.translate(spark,
      "kql_events | top-nested 2 of event_type by cnt = count(), " +
        "top-nested 3 of user_id by s = sum(event_id) " +
        "| sort by event_type asc, user_id asc").collect()
    assert(rows.map(_.getString(0)).distinct.length === 2, "exactly 2 level-1 keys")
    rows.groupBy(_.getString(0)).foreach { case (_, g) =>
      assert(g.length <= 3, "at most 3 level-2 keys per level-1 key")
    }
    // level-1 keys are THE top-2 event types by count
    val want = ev.groupBy("event_type").count()
      .orderBy(col("count").desc, col("event_type")).limit(2)
      .select("event_type").as[String].collect().toSet
    assert(rows.map(_.getString(0)).toSet === want)
    // every grain is aggregated DIRECTLY (grouping sets), so
    // non-decomposable aggregates are legal at any level
    val byAvg = Kql.translate(spark,
      "kql_events | top-nested 2 of event_type by a = avg(value)").collect()
    assert(byAvg.length === 2)
    val wantAvg = ev.groupBy("event_type").agg(avg("value").as("a"))
      .orderBy(col("a").desc, col("event_type")).limit(2).collect()
    assert(byAvg.map(_.getString(0)).toSeq === wantAvg.map(_.getString(0)).toSeq)
  }

  test("range generates inclusive arithmetic and datetime sequences") {
    val n = Kql.translate(spark, "range x from 1 to 10 step 3 | count")
      .as[Long].head()
    assert(n === 4) // 1, 4, 7, 10 — stop inclusive when on the grid
    val days = Kql.translate(spark,
      "range d from datetime(2024-01-01) to datetime(2024-01-05) step 1d | count")
      .as[Long].head()
    assert(days === 5)
    assert(Kql.looksLikeCsl("range x from 1 to 5 step 1 | count"))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "range x from 1 to 10")
    }
  }

  test("serialize numbers the frozen sort order; bare serialize is rejected") {
    ev.createOrReplaceTempView("kql_events")
    val r = Kql.translate(spark,
      "kql_events | sort by event_id asc | serialize rn = row_number() | take 5")
      .select("rn", "event_id").as[(Int, Long)].collect().toSeq
    assert(r.map(_._1) === Seq(1, 2, 3, 4, 5))
    assert(r.map(_._2) === r.map(_._2).sorted, "numbering follows the sort")
    // no preceding sort → no deterministic order to freeze → 400
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | serialize rn = row_number()")
    }
    // sort keys are SCOPED: a sort inside a tabular let or a join
    // sub-pipeline must not satisfy the outer pipeline's invariant...
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "let d = kql_events | sort by value desc; " +
          "kql_events | serialize rn = row_number()")
    }
    // ...and an order-destroying stage (summarize) clears the frozen order
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | sort by value desc | summarize n = count() by event_type " +
          "| serialize rn = row_number()")
    }
    // `top N by` yields an ordered result, so serialize after it works
    val topRn = Kql.translate(spark,
      "kql_events | top 3 by event_id | serialize rn = row_number()")
      .select("rn").as[Int].collect().toSeq
    assert(topRn === Seq(1, 2, 3))
  }

  test("top-nested auto-disambiguates colliding default aggregate names") {
    ev.createOrReplaceTempView("kql_events")
    val df = Kql.translate(spark,
      "kql_events | top-nested 2 of event_type by count(), " +
        "top-nested 2 of user_id by count()")
    assert(df.columns.toSeq === Seq("event_type", "count_", "user_id", "count_2"))
    assert(df.count() <= 4)
  }

  test("make-series and top-nested keep NULL by-keys as legal groups") {
    Seq((1L, Some("a"), "2024-01-01 01:00:00"), (2L, None, "2024-01-01 02:00:00"),
        (3L, None, "2024-01-02 03:00:00"), (4L, Some("b"), "2024-01-02 04:00:00"))
      .toDF("id", "k", "t")
      .withColumn("ts", to_timestamp($"t"))
      .createOrReplaceTempView("kql_nullkey")
    val ms = Kql.translate(spark,
      "kql_nullkey | make-series n = count() default = 0 on ts " +
        "from datetime(2024-01-01) to datetime(2024-01-03) step 1d by k")
      .collect()
    val nullRow = ms.find(_.isNullAt(0)).get
    // the NULL group's real counts must survive the grid join, never be
    // zero-filled by a null-unequal equality join
    assert(nullRow.getSeq[Long](1) === Seq(1L, 1L))
    val tn = Kql.translate(spark,
      "kql_nullkey | top-nested 3 of k by c = count(), " +
        "top-nested 2 of id by m = max(id)").collect()
    // the NULL level-1 key keeps its whole sub-tree at level 2
    assert(tn.count(_.isNullAt(0)) === 2, tn.mkString("; "))
  }

  test("has matches whole terms; negated string operators invert their base forms") {
    Seq((1L, "error in disk subsystem"), (2L, "terror alert"), (3L, "no ERRORS here"),
        (4L, "ERROR: disk full"))
      .toDF("id", "msg").createOrReplaceTempView("kql_has")
    def ids(csl: String) = Kql.translate(spark, csl)
      .select("id").as[Long].collect().toSet
    // term boundaries: 'terror' and 'errors' do NOT match `has 'error'`
    assert(ids("kql_has | where msg has 'error'") === Set(1L, 4L))
    assert(ids("kql_has | where msg has_cs 'error'") === Set(1L))
    assert(ids("kql_has | where msg !has 'error'") === Set(2L, 3L))
    assert(ids("kql_has | where msg !contains 'disk'") === Set(2L, 3L))
    assert(ids("kql_has | where msg !startswith 'error'") === Set(2L, 3L))
  }

  test("lookup: broadcast dimension join, leftouter default keeps every fact row") {
    ev.createOrReplaceTempView("kql_events")
    val out = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' | project event_id, user_id " +
        "| lookup (kql_events | where event_type == 'signup' " +
        "| summarize n_signups = count() by user_id) on user_id")
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(out.count() === nPurch, "leftouter keeps every fact row")
    // the dimension side carries a broadcast hint into the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), "lookup must broadcast the dimension")
    // kind=inner drops unmatched facts
    val inner = Kql.translate(spark,
      "kql_events | where event_type == 'purchase' | project event_id, user_id " +
        "| lookup kind=inner (kql_events | where event_type == 'signup' " +
        "| summarize n_signups = count() by user_id) on user_id")
    assert(inner.count() <= nPurch)
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | lookup kind=rightouter kql_events on event_id")
    }
  }

  test("string/json scalar batch: extractjson, indexof, countof, strcat_delim") {
    Seq((1L, """{"k": 42}""", "hello"), (2L, """{"x": 1}""", "aha"))
      .toDF("id", "js", "s").createOrReplaceTempView("kql_str2")
    val r = Kql.translate(spark,
      "kql_str2 | extend k = extractjson('$.k', js), i = indexof(s, 'h'), " +
        "miss = indexof(s, 'z'), n = countof(s, 'l'), rv = reverse(s), " +
        "t = strcat_delim('|', s, tostring(id)), hx = tohex(id) " +
        "| sort by id asc").collect()
    assert(r(0).getAs[String]("k") === "42" && r(1).getAs[String]("k") === null)
    // ADX indexof is 0-based, -1 when absent
    assert(r(0).getAs[Int]("i") === 0 && r(1).getAs[Int]("i") === 1)
    assert(r(0).getAs[Int]("miss") === -1)
    assert(r(0).getAs[Int]("n") === 2 && r(1).getAs[Int]("n") === 0)
    assert(r(0).getAs[String]("rv") === "olleh")
    assert(r(0).getAs[String]("t") === "hello|1")
    assert(r(1).getAs[String]("hx") === "2")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_str2 | extend n = countof(s, '')")
    }
  }

  test("datatable: inline literal source with typed columns, nulls, negatives") {
    val df = Kql.translate(spark,
      "datatable(s: string, n: long, v: real, b: bool, t: datetime)" +
        "['a', 1, 1.5, true, datetime(2024-01-02 03:00:00), " +
        "'b', -2, null, false, null] | sort by n asc")
    assert(df.columns.toSeq === Seq("s", "n", "v", "b", "t"))
    val r = df.collect()
    assert(r.length === 2)
    assert(r(0).getLong(1) === -2L && r(0).isNullAt(2) && r(0).isNullAt(4))
    assert(r(1).getString(0) === "a" && r(1).getDouble(2) === 1.5 && r(1).getBoolean(3))
    assert(r(1).getTimestamp(4).toInstant.toString === "2024-01-02T03:00:00Z")
    // row-major value count must tile the schema exactly
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "datatable(a: long, b: long)[1, 2, 3]")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "datatable(a: guid)[1]")
    }
    assert(Kql.looksLikeCsl("datatable(a: long)[1] | count"))
  }

  test("where accepts bare boolean terms and parenthesized arithmetic comparisons") {
    ev.createOrReplaceTempView("kql_events")
    val a = Kql.translate(spark,
      "kql_events | where isnotempty(event_type) and (value + 10) > 100 | count")
      .as[Long].head()
    val b = ev.filter(col("event_type").isNotNull &&
      col("event_type") =!= "" && (col("value") + 10) > 100).count()
    assert(a === b && a > 0)
  }

  test("dynamic tier: todynamic + dot/bracket paths compile to JSON-path extraction") {
    ev.createOrReplaceTempView("kql_events")
    // dot access == bracket access == the DataFrame get_json_object twin
    val dot = Kql.translate(spark,
      "kql_events | extend k = tolong(todynamic(props).k) " +
        "| where k >= 50 | project event_id, k | sort by event_id asc | take 50")
      .collect().toSeq
    val brk = Kql.translate(spark,
      "kql_events | extend k = tolong(todynamic(props)['k']) " +
        "| where k >= 50 | project event_id, k | sort by event_id asc | take 50")
      .collect().toSeq
    val want = ev
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k") >= 50).select("event_id", "k")
      .orderBy(col("event_id").asc).limit(50).collect().toSeq
    assert(dot === want && brk === want && dot.nonEmpty)
    // a chained path over a nested literal
    val nested = Kql.translate(spark,
      "datatable(j: string)['{\"a\": {\"b\": [1, 7]}}'] " +
        "| project v = tolong(todynamic(j).a.b[1])").as[Long].head()
    assert(nested === 7L)
    // still-unsupported dynamic forms fail loudly: non-literal index,
    // unknown bag functions
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | extend x = todynamic(props)[event_id]")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | extend x = bag_keys(todynamic(props))")
    }
  }

  test("mv-apply: per-element subquery; aggregating stages inside are rejected") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | where event_type == 'click' " +
        "| extend ds = split(tostring(event_id), '1') " +
        "| mv-apply d = ds on (where strlen(d) >= 1 | extend dv = tolong(d)) " +
        "| summarize n = count() by user_id | sort by user_id asc")
      .as[(Long, Long)].collect().toSeq
    val want = ev.filter(col("event_type") === "click")
      .withColumn("d", explode(split(col("event_id").cast("string"), "1")))
      .filter(length(col("d")) >= 1)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("user_id").asc)
      .as[(Long, Long)].collect().toSeq
    assert(got === want && got.nonEmpty)
    // bare-column form expands the column itself
    val bare = Kql.translate(spark,
      "kql_events | where event_type == 'click' " +
        "| extend ds = split(tostring(event_id), '1') " +
        "| mv-apply ds on (where strlen(ds) >= 1) | count").as[Long].head()
    assert(bare === want.map(_._2).sum)
    // aggregates need a per-parent-row regroup — out of subset, loud
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | extend ds = split(tostring(event_id), '1') " +
          "| mv-apply d = ds on (summarize c = count())")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | mv-apply event_type") // no `on`
    }
  }

  test("serialized windows: prev/next/row_cumsum over the frozen order") {
    import org.apache.spark.sql.expressions.Window
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | where event_type == 'view' | sort by event_id asc " +
        "| serialize rn = row_number(), pv = prev(value), n2 = next(value, 2), " +
        "cum = row_cumsum(tolong(value)) " +
        "| where rn <= 20 | project rn, event_id, pv, n2, cum")
      .collect().toSeq
    val w = Window.orderBy(col("event_id").asc)
    val want = ev.filter(col("event_type") === "view")
      .withColumn("rn", row_number().over(w))
      .withColumn("pv", lag(col("value"), 1).over(w))
      .withColumn("n2", lead(col("value"), 2).over(w))
      .withColumn("cum", sum(col("value").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rn") <= 20).select("rn", "event_id", "pv", "n2", "cum")
      .collect().toSeq
    assert(got === want && got.size === 20)
    // first row has no prev; the cumsum is strictly the row prefix
    assert(got.head.isNullAt(2))
    // the family still requires the frozen order
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | serialize pv = prev(value)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | sort by event_id asc | serialize x = rank()")
    }
  }

  test("trim is regex semantics; countof counts overlapping matches") {
    // ADX: trim('ab','ba') strips NOTHING (no leading/trailing 'ab'
    // match) — char-set semantics would strip everything
    val t = Kql.translate(spark,
      "datatable(s: string)['ba'] | project v = trim('ab', s)").as[String].head()
    assert(t === "ba")
    val t2 = Kql.translate(spark,
      "datatable(s: string)['aaabaa'] | project v = trim('a+', s)").as[String].head()
    assert(t2 === "b")
    // ADX countof default counts OVERLAPPING occurrences
    val c = Kql.translate(spark,
      "datatable(s: string)['aaa'] | project v = countof(s, 'aa')").as[Int].head()
    assert(c === 2)
    val c2 = Kql.translate(spark,
      "datatable(s: string)['abcabc'] | project v = countof(s, 'abc')").as[Int].head()
    assert(c2 === 2)
  }

  test("evaluate pivot matches the conditional-aggregation twin") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | extend ub = user_id % 4 " +
        "| evaluate pivot(event_type, count(), ub) | sort by ub asc")
    // pivot values become columns in sorted order after the group keys
    assert(got.columns.toSeq ===
      Seq("ub", "click", "error", "purchase", "signup", "view"))
    val want = ev.withColumn("ub", col("user_id") % 4)
      .groupBy("ub").pivot("event_type",
        Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1))).orderBy("ub").collect().toSeq
    assert(got.collect().toSeq === want)
    // omitted group columns = every remaining column (all but the pivot
    // column and the aggregate input)
    val implicitBy = Kql.translate(spark,
      "kql_events | project event_type, user_id " +
        "| evaluate pivot(event_type, dcount(event_type))")
    assert(implicitBy.columns.head === "user_id")
    // unknown plugins and computed pivot columns fail loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | evaluate narrow(props)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | evaluate pivot(user_id + 1)")
    }
  }

  test("top-hitters is the exact heavy-hitter cut with ADX column names") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark, "kql_events | top-hitters 3 of event_type")
    assert(got.columns.toSeq === Seq("event_type", "approximate_count_event_type"))
    val want = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("event_type")).limit(3)
      .as[(String, Long)].collect().toSeq
    assert(got.as[(String, Long)].collect().toSeq === want)
    val bySum = Kql.translate(spark,
      "kql_events | top-hitters 5 of user_id by value")
    assert(bySum.columns.toSeq === Seq("user_id", "approximate_sum_value"))
    assert(bySum.count() === 5)
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | top-hitters 3 of event_type from x")
    }
  }

  test("getschema reflects the pipeline frame, not the source table") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | project event_id, event_type | getschema")
      .as[(String, Long, String, String)].collect().toSeq
    assert(got === Seq(
      ("event_id", 0L, "System.Int64", "long"),
      ("event_type", 1L, "System.String", "string")))
    // a LocalRelation: getschema never scans data
    val plan = Kql.translate(spark, "kql_events | getschema")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("LocalRelation"))
    assert(!plan.toLowerCase.contains("parquet"))
  }

  test("partition by: per-key top via rank window, summarize gains the key") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | partition by event_type (top 2 by value desc, event_id asc) " +
        "| project event_type, event_id | sort by event_type asc, event_id asc")
      .as[(String, Long)].collect().toSeq
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("value").desc, col("event_id"))
    val want = ev.withColumn("r", row_number().over(w)).filter(col("r") <= 2)
      .select("event_type", "event_id").orderBy("event_type", "event_id")
      .as[(String, Long)].collect().toSeq
    assert(got === want)
    // aggregating subquery: the partition column joins the group keys
    val agg = Kql.translate(spark,
      "kql_events | partition by event_type (summarize n = count()) " +
        "| sort by event_type asc")
    assert(agg.columns.toSet === Set("n", "event_type"))
    assert(agg.count() === ev.select("event_type").distinct().count())
    // row-wise stages apply; anything else fails loudly
    val filtered = Kql.translate(spark,
      "kql_events | partition by event_type (where value >= 100.0 | top 1 by event_id asc)")
    assert(filtered.count() === ev.filter(col("value") >= 100.0)
      .select("event_type").distinct().count())
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | partition by event_type (sort by event_id asc)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | partition by event_type (project event_id | top 1 by event_id asc)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | partition by missing_col (top 1 by event_id asc)")
    }
  }

  test("evaluate bag_unpack expands discovered keys, sorted, with null for absent") {
    val t = Kql.translate(spark,
      "datatable(id: long, j: string)" +
        "[1, '{\"b\": \"x\", \"a\": 1}', 2, '{\"a\": 2}'] " +
        "| evaluate bag_unpack(j)")
    // carried columns first, then the discovered keys in sorted order;
    // the bag column itself is dropped (the ADX contract)
    assert(t.columns.toSeq === Seq("id", "a", "b"))
    val rows = t.orderBy("id").collect()
    assert(rows(0).getString(1) === "1" && rows(0).getString(2) === "x")
    assert(rows(1).getString(1) === "2" && rows(1).isNullAt(2))
    // prefix form
    val p = Kql.translate(spark,
      "datatable(id: long, j: string)[1, '{\"a\": 1}'] " +
        "| evaluate bag_unpack(j, 'p_')")
    assert(p.columns.toSeq === Seq("id", "p_a"))
    // JSONPath metacharacters in keys and unknown columns fail loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "datatable(j: string)['{\"x.y\": 1}'] | evaluate bag_unpack(j)")
    }
    ev.createOrReplaceTempView("kql_events")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | evaluate bag_unpack(missing)")
    }
  }

  test("scan admits the first-eligible row per step and emits stalled prefixes") {
    Seq(
      (1L, 1L, "signup"), (1L, 2L, "click"), (1L, 3L, "click"), (1L, 4L, "purchase"),
      (2L, 1L, "click"), (2L, 2L, "signup"), (2L, 3L, "click"),
      (3L, 1L, "purchase"), (3L, 2L, "error")
    ).toDF("uid", "seq", "et").createOrReplaceTempView("kql_scan_t")
    // per-entity funnel via partition by: uid 1 completes (1, 2, 4 —
    // the SECOND click at 3 must not re-match step b), uid 2 stalls
    // after click (prefix emitted), uid 3 never starts (purchase
    // before signup must not match)
    val got = Kql.translate(spark,
      "kql_scan_t | partition by uid (sort by seq asc | scan with (" +
        "step a: et == 'signup'; step b: et == 'click'; step c: et == 'purchase';))" +
        " | project uid, seq | sort by uid asc, seq asc")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (1L, 2L), (1L, 4L), (2L, 2L), (2L, 3L)))
    // bare scan runs over the whole frozen order
    val g = Kql.translate(spark,
      "kql_scan_t | sort by uid asc, seq asc | scan with (" +
        "step a: et == 'signup'; step b: et == 'purchase') | project uid, seq")
      .as[(Long, Long)].collect().toSeq
    assert(g === Seq((1L, 1L), (1L, 4L)))
    // no preceding sort -> no deterministic order to scan -> 400
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_t | scan with (step a: et == 'signup')")
    }
    // declare-state is IN subset since round 13 (see the dedicated
    // spec); only the funnel-counter class is admitted — general
    // mutation still fails loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_t | sort by seq asc " +
        "| scan declare (m: long) with (step a: et == 'signup' => m = m * 2)")
    }
    // steps must be `step name: predicate`
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_t | sort by seq asc | scan with (et == 'x')")
    }
  }

  test("sequence_detect: time-bounded per-entity chains; dcount_intersect: exact cumulative audiences") {
    val dayUs = 86400000000L
    def mkTs(day: Long) = new java.sql.Timestamp(day * 86400000L)
    Seq(
      // uid 1: view d1 → click d3 (within 7d) → purchase d8 (within 7d
      // of click, span 7d ≤ 30d) — detected
      (1L, mkTs(1), "view"), (1L, mkTs(3), "click"), (1L, mkTs(8), "purchase"),
      // uid 2: click comes 9 days after the view — step window blown
      (2L, mkTs(1), "view"), (2L, mkTs(10), "click"), (2L, mkTs(11), "purchase"),
      // uid 3: steps each within window but total span 40d > 30d
      (3L, mkTs(1), "view"), (3L, mkTs(7), "click"), (3L, mkTs(41), "purchase"),
      // uid 4: purchase BEFORE the click — order matters
      (4L, mkTs(1), "view"), (4L, mkTs(3), "purchase"), (4L, mkTs(5), "click")
    ).toDF("uid", "ts_ts", "et").createOrReplaceTempView("kql_seq_t")
    val got = Kql.translate(spark,
      "kql_seq_t | evaluate sequence_detect(ts_ts, 7d, 30d, " +
        "et == 'view', et == 'click', et == 'purchase', uid) | sort by uid asc")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1 * dayUs, 3 * dayUs, 8 * dayUs, 7 * dayUs)))
    // (uid 2 drops on the step window, uid 3 on the 30d span cut,
    // uid 4 on step order); the arg-validation surface:
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_seq_t | evaluate sequence_detect(ts_ts, 7d, 30d, et == 'view', uid)")
    } // one expression is not a sequence
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_seq_t | evaluate sequence_detect(ts_ts, 0d, 30d, et == 'a', et == 'b', uid)")
    } // non-positive step window
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_seq_t | evaluate sequence_detect(ts_ts + 1d, 7d, 30d, et == 'a', et == 'b', uid)")
    } // timeline must be a plain column

    // dcount_intersect: hand-checkable cumulative audiences — every
    // uid in kql_seq_t has all three event types, so all counts = 4
    val (s0, s1, s2) = Kql.translate(spark,
      "kql_seq_t | evaluate dcount_intersect(uid, et == 'view', et == 'click', et == 'purchase')")
      .as[(Long, Long, Long)].collect().head
    assert((s0, s1, s2) === (4L, 4L, 4L))
    // a discriminating fixture: 3 viewers, 1 also clicked, none did all
    Seq((1L, "view"), (1L, "click"), (2L, "view"), (3L, "view"), (3L, "buy"))
      .toDF("uid", "et").createOrReplaceTempView("kql_dci_t")
    val (d0, d1, d2) = Kql.translate(spark,
      "kql_dci_t | evaluate dcount_intersect(uid, et == 'view', et == 'click', et == 'buy')")
      .as[(Long, Long, Long)].collect().head
    assert((d0, d1, d2) === (3L, 1L, 0L))
    // fewer than two set expressions is just dcount — rejected
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_dci_t | evaluate dcount_intersect(uid)")
    }
  }

  test("sliding_window_counts: trailing-window fanout, zero fill, grid contract") {
    def d(day: Int) = new java.sql.Timestamp(
      java.time.Instant.parse(f"2024-01-$day%02dT06:00:00Z").toEpochMilli)
    // uid 1 active days 1 and 2; uid 2 active day 1 (twice); nothing after
    Seq((1L, d(1)), (1L, d(2)), (2L, d(1)), (2L, d(1)))
      .toDF("uid", "ts_ts").createOrReplaceTempView("kql_swc_t")
    val got = Kql.translate(spark,
      "kql_swc_t | evaluate sliding_window_counts(uid, ts_ts, " +
        "datetime(2024-01-01), datetime(2024-01-06), 2d, 1d) | sort by bin_us asc")
      .as[(Long, Long, Long)].collect().toSeq
    val day1 = 1704067200000000L
    val dayUs = 86400000000L
    // day 1: 3 events, 2 actors; day 2: window = days 1-2 → 4 events,
    // 2 actors; day 3: window = days 2-3 → 1 event, 1 actor; days 4-5
    // zero-fill
    assert(got === Seq(
      (day1, 3L, 2L), (day1 + dayUs, 4L, 2L), (day1 + 2 * dayUs, 1L, 1L),
      (day1 + 3 * dayUs, 0L, 0L), (day1 + 4 * dayUs, 0L, 0L)))
    // lookback must be a multiple of the bin
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_swc_t | evaluate sliding_window_counts(uid, ts_ts, " +
        "datetime(2024-01-01), datetime(2024-01-06), 36h, 1d)")
    }
  }

  test("scan repeats: consecutive absorption, run breaks, stalls, and rejections") {
    Seq(
      // uid 1: view burst (1,2), interloper click at 3 breaks nothing —
      // run already ended at 2 by the click; purchase at 5 completes
      (1L, 1L, "view"), (1L, 2L, "view"), (1L, 3L, "click"),
      (1L, 4L, "view"), (1L, 5L, "purchase"),
      // uid 2: single view then purchase immediately (a 1-row run)
      (2L, 1L, "view"), (2L, 2L, "purchase"),
      // uid 3: open-ended view run, never purchases — the stalled
      // chain emits the WHOLE absorbed run (prefix semantics)
      (3L, 1L, "view"), (3L, 2L, "view"), (3L, 3L, "view"),
      // uid 4: purchase before any view — nothing matches
      (4L, 1L, "purchase")
    ).toDF("uid", "seq", "et").createOrReplaceTempView("kql_scan_r")
    val got = Kql.translate(spark,
      "kql_scan_r | partition by uid (sort by seq asc | scan with (" +
        "step v repeats: et == 'view'; step p: et == 'purchase';))" +
        " | project uid, seq | sort by uid asc, seq asc")
      .as[(Long, Long)].collect().toSeq
    // uid 1: views 1,2 absorbed (view at 4 is NOT — the run broke at
    // the click, and a broken run never re-opens), purchase 5
    assert(got === Seq((1L, 1L), (1L, 2L), (1L, 5L),
      (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 2L), (3L, 3L)))
    // two chained repeating steps: the click run arms only after the
    // view run's END, and absorbs its own consecutive burst
    Seq(
      (1L, 1L, "view"), (1L, 2L, "view"), (1L, 3L, "click"),
      (1L, 4L, "click"), (1L, 5L, "view"), (1L, 6L, "click"),
      (1L, 7L, "purchase")
    ).toDF("uid", "seq", "et").createOrReplaceTempView("kql_scan_r2")
    val got2 = Kql.translate(spark,
      "kql_scan_r2 | partition by uid (sort by seq asc | scan with (" +
        "step v repeats: et == 'view'; step c repeats: et == 'click'; " +
        "step p: et == 'purchase';)) | project seq | sort by seq asc")
      .as[Long].collect().toSeq
    // views 1-2, clicks 3-4 (the view at 5 breaks the click run; the
    // click at 6 is NOT re-absorbed), purchase 7
    assert(got2 === Seq(1L, 2L, 3L, 4L, 7L))
    // declare-state cannot combine with repeats (data-dependent fold)
    val e = intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_r | sort by seq asc " +
        "| scan declare (n: long = 0) with (" +
        "step v repeats: et == 'view' => n = n + 1; step p: et == 'purchase')")
    }
    assert(e.getMessage.contains("repeat"))
    // a step clause with unknown extra flags is rejected loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_r | sort by seq asc " +
        "| scan with (step v concurrent: et == 'view')")
    }
  }

  test("scan with_match_id: concurrent per-anchor matches — overlap, stalls, rejections") {
    Seq(
      // uid 1: TWO views before the first click — two OVERLAPPING
      // chains that share the click at 3 and the purchase at 4
      (1L, 1L, "view"), (1L, 2L, "view"), (1L, 3L, "click"),
      (1L, 4L, "purchase"),
      // uid 2: disjoint back-to-back sessions — two complete chains
      // with their own clicks and purchases
      (2L, 1L, "view"), (2L, 2L, "click"), (2L, 3L, "purchase"),
      (2L, 4L, "view"), (2L, 5L, "click"), (2L, 6L, "purchase"),
      // uid 3: a view whose click never comes — the stalled chain
      // emits only its anchor (prefix semantics)
      (3L, 1L, "view"), (3L, 2L, "purchase"),
      // uid 4: click/purchase with no anchor — no chain at all
      (4L, 1L, "click"), (4L, 2L, "purchase")
    ).toDF("uid", "seq", "et").createOrReplaceTempView("kql_scan_c")
    val got = Kql.translate(spark,
      "kql_scan_c | partition by uid (sort by seq asc | scan " +
        "with_match_id = m with (step v: et == 'view'; " +
        "step c: et == 'click'; step p: et == 'purchase';))" +
        " | project uid, m, seq | sort by uid asc, m asc, seq asc")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      // uid 1: match 1 anchored at 1, match 2 anchored at 2 — both
      // complete through the SHARED click 3 and purchase 4
      (1L, 1L, 1L), (1L, 1L, 3L), (1L, 1L, 4L),
      (1L, 2L, 2L), (1L, 2L, 3L), (1L, 2L, 4L),
      // uid 2: two disjoint complete sessions
      (2L, 1L, 1L), (2L, 1L, 2L), (2L, 1L, 3L),
      (2L, 2L, 4L), (2L, 2L, 5L), (2L, 2L, 6L),
      // uid 3: the stalled chain emits its anchor only (the purchase
      // cannot arm before a click — stall propagates)
      (3L, 1L, 1L)))
    // wait-for-click semantics: uid 3's purchase at 2 must NOT attach
    assert(!got.exists(r => r._1 == 3L && r._3 == 2L))
    // with_match_id cannot combine with declare or repeats
    val e1 = intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_c | sort by seq asc " +
        "| scan with_match_id = m declare (n: long) with (" +
        "step v: et == 'view' => n = n + 1; step p: et == 'purchase')")
    }
    assert(e1.getMessage.contains("declare"))
    val e2 = intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_c | sort by seq asc " +
        "| scan with_match_id = m with (" +
        "step v repeats: et == 'view'; step p: et == 'purchase')")
    }
    assert(e2.getMessage.contains("repeat"))
    // the match-id name must not shadow an input column
    val e3 = intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_scan_c | sort by seq asc " +
        "| scan with_match_id = et with (step v: et == 'view')")
    }
    assert(e3.getMessage.contains("shadows"))
  }

  test("toscalar folds the inner query's first value into a constant") {
    ev.createOrReplaceTempView("kql_events")
    // inline use, no let binding required
    val got = Kql.translate(spark,
      "kql_events | where event_id == toscalar(kql_events | summarize m = min(event_id))")
      .count()
    assert(got === 1)
    // let-bound scalar participates in arithmetic
    val n = Kql.translate(spark,
      "let mx = toscalar(kql_events | summarize m = max(event_id)); " +
        "kql_events | where event_id > mx - 5 | count").as[Long].head()
    assert(n === 5)
    // empty inner result folds to a typed null (nothing matches NULL)
    val empty = Kql.translate(spark,
      "kql_events | where value == toscalar(kql_events | where value < -1.0 | project value)")
      .count()
    assert(empty === 0)
    // non-scalar first column is rejected loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | where value == toscalar(kql_events | summarize v = make_list(value))")
    }
  }

  test("union withsource labels origin tables; parse-where drops non-matches") {
    ev.createOrReplaceTempView("kql_events")
    Seq((1L, "alpha"), (2L, "beta")).toDF("id", "tag")
      .createOrReplaceTempView("kql_side")
    val u = Kql.translate(spark,
      "kql_events | union withsource = src kql_side " +
        "| summarize n = count() by src | sort by src asc")
      .as[(String, Long)].collect().toSeq
    assert(u === Seq(("kql_events", ev.count()), ("kql_side", 2L)))
    // a (pipeline) side has no ADX-defined name -> loud rejection
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | union withsource = src (kql_side | take 1)")
    }
    // parse-where keeps only matching rows; plain parse keeps all
    Seq((1L, "dur=15ms"), (2L, "oops"), (3L, "dur=7ms"))
      .toDF("id", "msg").createOrReplaceTempView("kql_logs")
    val pw = Kql.translate(spark,
      "kql_logs | parse-where msg with 'dur=' d 'ms' | project id, d")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(pw === Seq((1L, "15"), (3L, "7")))
    val pAll = Kql.translate(spark,
      "kql_logs | parse msg with 'dur=' d 'ms'").count()
    assert(pAll === 3)
  }

  test("materialize computes a let binding once; both references read the cache") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "let hot = materialize(kql_events | summarize n = count() by event_type); " +
        "hot | join kind=inner (hot | project event_type) on event_type " +
        "| sort by event_type asc")
    // results equal the uncached twin
    val want = Kql.translate(spark,
      "kql_events | summarize n = count() by event_type | sort by event_type asc")
    assert(got.select("event_type", "n").collect().toSeq ===
      want.select("event_type", "n").collect().toSeq)
    // compute-once: the doubly-referenced binding is a materialized
    // LogicalRDD, so the plan aggregates zero times and scans no files
    val plan = got.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), plan.take(800))
    assert(plan.contains("LogicalRDD"), plan.take(800))
    // materialize outside a let binding is rejected loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | where value > toscalar(kql_events | count) | " +
          "extend z = materialize(kql_events)")
    }
  }

  test("series_outliers scores above/below the exact Tukey fences") {
    // sorted series 1..10,100: p25 = 3.5, p75 = 8.5, d = 5 (all dyadic,
    // so the expected scores are exact doubles)
    Seq((1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 100L)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_t")
    val tukey = Kql.translate(spark,
      "kql_series_t | extend ol = series_outliers(n, 'tukey')")
      .select(explode(col("ol"))).as[Double].collect().toSeq
    assert(tukey === Seq(-0.5, -0.3, -0.1, 0.0, 0.0, 0.0, 0.0, 0.0, 0.1, 0.3, 18.3))
    // default ctukey fences at p10/p90: lo = 2, hi = 10, d = 8
    val ctukey = Kql.translate(spark,
      "kql_series_t | extend ol = series_outliers(n)")
      .select(explode(col("ol"))).as[Double].collect().toSeq
    assert(ctukey === Seq(-0.125) ++ Seq.fill(9)(0.0) ++ Seq(11.25))
    // a collapsed fence scores everything 0 instead of dividing by 0
    Seq((1L, Seq(5L, 5L, 5L, 5L))).toDF("k", "n")
      .createOrReplaceTempView("kql_series_flat")
    val flat = Kql.translate(spark,
      "kql_series_flat | extend ol = series_outliers(n, 'tukey')")
      .select(explode(col("ol"))).as[Double].collect().toSeq
    assert(flat === Seq.fill(4)(0.0))
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_series_t | extend ol = series_outliers(n, 'zscore')")
    }
  }

  test("series_outliers computes its fences once per row, not per element") {
    import org.apache.spark.sql.catalyst.expressions.{ArraySort, LambdaFunction}
    // repartitioned, so the optimizer cannot fold the projection into a
    // LocalRelation (which would leave no expressions to inspect)
    Seq((1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L, 100L)))
      .toDF("k", "n").repartition(1).createOrReplaceTempView("kql_series_fence")
    val df = Kql.translate(spark, "kql_series_fence | extend ol = series_outliers(n)")
    // an array_sort inside a lambda body re-sorts the series per element
    val inBodies = df.queryExecution.optimizedPlan.flatMap(_.expressions).flatMap(
      _.collect { case lf: LambdaFunction => lf.function.collect { case a: ArraySort => a } })
      .flatten
    assert(df.queryExecution.optimizedPlan.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[ArraySort]))), "the plan must still sort")
    assert(inBodies.size === 0, s"array_sorts in lambda bodies, e.g. ${inBodies.headOption}")
    assert(df.select(explode(col("ol"))).as[Double].collect().toSeq ===
      Seq(-0.125) ++ Seq.fill(9)(0.0) ++ Seq(11.25))
  }

  test("series_decompose_forecast: short rows yield nulls, never a failed query") {
    // lengths 1 and 2 are no longer than points = 2 (no train point);
    // 3 leaves one train point (no line); 6 and 7 at period 7 train on
    // phases 0-3 and 0-4, so the horizon's later phases have no mean
    Seq((1L, Seq(5.0)), (2L, Seq(5.0, 6.0)), (3L, Seq(1.0, 2.0, 3.0)),
      (6L, Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0)),
      (7L, Seq(3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0)))
      .toDF("k", "v").createOrReplaceTempView("kql_series_short")
    val got = Kql.translate(spark,
      "kql_series_short | extend fc = series_decompose_forecast(v, 2, 7) " +
        "| project k, fc | sort by k asc")
      .collect().map(r => r.getLong(0) -> r.getSeq[java.lang.Double](1)).toMap
    Seq(1L, 2L, 3L).foreach(k => assert(got(k) === Seq.fill(k.toInt)(null), s"k=$k"))
    // the defined elements are the train prefix's decompose baseline
    Seq((1L, Seq(3.0, 1.0, 4.0, 1.0)), (2L, Seq(3.0, 1.0, 4.0, 1.0, 5.0)))
      .toDF("k", "v").createOrReplaceTempView("kql_series_train")
    val base = Kql.translate(spark,
      "kql_series_train | extend (b, s, t, e) = series_decompose(v, 7) " +
        "| project k, b | sort by k asc")
      .collect().map(_.getSeq[java.lang.Double](1))
    assert(got(6L) === base(0) ++ Seq(null, null))
    assert(got(7L) === base(1) ++ Seq(null, null))
  }

  test("series fills: forward carry, linear interpolation, edges, const") {
    // nulls at positions 0, 2-3, 6 (leading, interior run, trailing)
    Seq((1L, Seq[java.lang.Long](null, 4L, null, null, 10L, 8L, null)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_fill")
    val got = Kql.translate(spark,
      "kql_series_fill | extend ff = series_fill_forward(n), " +
        "lf = series_fill_linear(n), cf = series_fill_const(n, -1.0), " +
        "c0 = series_fill_const(n)")
      .select(col("ff"), col("lf"), col("cf"), col("c0"))
      .as[(Seq[Option[Double]], Seq[Option[Double]], Seq[Double], Seq[Double])]
      .collect().head
    // forward: leading null stays null, then last-seen carries
    assert(got._1 === Seq(None, Some(4.0), Some(4.0), Some(4.0),
      Some(10.0), Some(8.0), Some(8.0)))
    // linear: leading edge takes the first non-null, the 4..10 interior
    // run interpolates at thirds (exact doubles: 4+2k), trailing edge
    // takes the last non-null
    assert(got._2 === Seq(Some(4.0), Some(4.0), Some(6.0), Some(8.0),
      Some(10.0), Some(8.0), Some(8.0)))
    assert(got._3 === Seq(-1.0, 4.0, -1.0, -1.0, 10.0, 8.0, -1.0))
    assert(got._4 === Seq(0.0, 4.0, 0.0, 0.0, 10.0, 8.0, 0.0))
    // an all-null series survives every fill (forward/linear stay null)
    Seq((1L, Seq[java.lang.Long](null, null)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_allnull")
    val nulls = Kql.translate(spark,
      "kql_series_allnull | extend ff = series_fill_forward(n), " +
        "lf = series_fill_linear(n)")
      .select(col("ff"), col("lf"))
      .as[(Seq[Option[Double]], Seq[Option[Double]])].collect().head
    assert(nulls._1 === Seq(None, None) && nulls._2 === Seq(None, None))
  }

  test("series_fir: causal zero-padded weighted moving average, exact") {
    // weights [1,1], series [2,4,6]: out = [(2+0)/2, (4+2)/2, (6+4)/2]
    Seq((1L, Seq(2L, 4L, 6L)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_fir")
    val got = Kql.translate(spark,
      "kql_series_fir | extend ma = series_fir(n, dynamic([1, 1]))")
      .select(explode(col("ma"))).as[Double].collect().toSeq
    assert(got === Seq(1.0, 3.0, 5.0))
    // asymmetric weights look BACK: w0 on the current, w1 on the prior
    val asym = Kql.translate(spark,
      "kql_series_fir | extend ma = series_fir(n, dynamic([3, 1]))")
      .select(explode(col("ma"))).as[Double].collect().toSeq
    assert(asym === Seq(6.0 / 4, (12.0 + 2) / 4, (18.0 + 4) / 4))
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_series_fir | extend ma = series_fir(n, dynamic([]))")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_series_fir | extend ma = series_fir(n, dynamic([1.5]))")
    }
  }

  test("series_pearson_correlation: exact r on planted series") {
    // y = 2x + 1 -> r = 1 exactly; y = -x -> r = -1; constant side -> null
    Seq((1L, Seq(1L, 2L, 3L, 4L), Seq(3L, 5L, 7L, 9L)),
      (2L, Seq(1L, 2L, 3L, 4L), Seq(4L, 3L, 2L, 1L)),
      (3L, Seq(1L, 2L, 3L, 4L), Seq(5L, 5L, 5L, 5L)))
      .toDF("k", "a", "b").createOrReplaceTempView("kql_series_pc")
    val got = Kql.translate(spark,
      "kql_series_pc | extend r = series_pearson_correlation(a, b) " +
        "| project k, r | sort by k asc")
      .as[(Long, Option[Double])].collect().toSeq
    assert(got === Seq((1L, Some(1.0)), (2L, Some(-1.0)), (3L, None)))
    // length mismatch yields null, never a wrong number
    Seq((1L, Seq(1L, 2L, 3L), Seq(1L, 2L)))
      .toDF("k", "a", "b").createOrReplaceTempView("kql_series_pc2")
    val mm = Kql.translate(spark,
      "kql_series_pc2 | extend r = series_pearson_correlation(a, b) | project r")
      .as[Option[Double]].collect().toSeq
    assert(mm === Seq(None))
  }

  test("series_decompose_forecast extrapolates the trained baseline") {
    // flat series: slope 0, intercept 10, all seasonal means 0 — the
    // forecast slots (positions 6-7) must come out exactly 10.0
    Seq((1L, Seq(10L, 10L, 10L, 10L, 10L, 10L, 0L, 0L)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_fc")
    val fc = Kql.translate(spark,
      "kql_series_fc | extend fc = series_decompose_forecast(n, 2, 2)")
      .select(explode(col("fc"))).as[Double].collect().toSeq
    assert(fc === Seq.fill(8)(10.0),
      s"flat series must forecast flat: $fc")
    // the train prefix excludes the forecast slots: poisoning them must
    // not move the fit
    Seq((1L, Seq(10L, 10L, 10L, 10L, 10L, 10L, 999L, -5L)))
      .toDF("k", "n").createOrReplaceTempView("kql_series_fc2")
    val fc2 = Kql.translate(spark,
      "kql_series_fc2 | extend fc = series_decompose_forecast(n, 2, 2)")
      .select(explode(col("fc"))).as[Double].collect().toSeq
    assert(fc2 === Seq.fill(8)(10.0),
      s"forecast slots must not leak into the fit: $fc2")
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_series_fc | extend fc = series_decompose_forecast(n, 0, 2)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_series_fc | extend fc = series_decompose_forecast(n, 2, 1)")
    }
  }

  test("sample and sample-distinct are the deterministic md5 draw") {
    ev.createOrReplaceTempView("kql_events")
    val a = Kql.translate(spark,
      "kql_events | project event_id, event_type | sample 5 | sort by event_id asc")
      .as[(Long, String)].collect().toSeq
    val b = Kql.translate(spark,
      "kql_events | project event_id, event_type | sample 5 | sort by event_id asc")
      .as[(Long, String)].collect().toSeq
    assert(a === b && a.length === 5)
    // the draw is the md5 rank over the injectively-serialized row
    // (\u0001 separator, \u0002 null sentinel, the serialization as
    // the tie-break), recomputed here
    val rk = concat_ws("\u0001",
      coalesce(col("event_id").cast("string"), lit("\u0002")),
      coalesce(col("event_type").cast("string"), lit("\u0002")))
    val want = ev.select(col("event_id"), col("event_type"))
      .orderBy(md5(rk), rk)
      .limit(5).orderBy("event_id")
      .as[(Long, String)].collect().toSeq
    assert(a === want)
    val sd = Kql.translate(spark,
      "kql_events | sample-distinct 2 of event_type")
      .as[String].collect().toSeq
    assert(sd.length === 2 && sd.distinct.length === 2)
    val sdWant = ev.select(col("event_type")).distinct()
      .orderBy(md5(coalesce(col("event_type").cast("string"), lit("\u0002"))),
        col("event_type"))
      .limit(2).as[String].collect().toSeq
    assert(sd === sdWant)
    // the separator prevents cross-boundary aliases: ("1","23") and
    // ("12","3") serialize differently, so a 1-row draw is well-defined
    Seq(("1", "23"), ("12", "3")).toDF("a", "b")
      .createOrReplaceTempView("kql_bound")
    val one = Kql.translate(spark, "kql_bound | sample 1").collect()
    assert(one.length === 1)
  }

  test("% is C-style remainder, same as the engine twin") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | project event_id, m = user_id % 7 | sort by event_id asc")
      .as[(Long, Long)].collect().toSeq
    val want = ev.select(col("event_id"), (col("user_id") % 7).as("m"))
      .orderBy("event_id").as[(Long, Long)].collect().toSeq
    assert(got === want)
  }

  test("has_any/has_all: multi-needle term match, OR vs AND, literal lists only") {
    Seq((1L, "spark shuffle join"), (2L, "the shuffle only"), (3L, "sparkly things"),
        (4L, "batch and stream and spark"))
      .toDF("id", "msg").createOrReplaceTempView("kql_hasany")
    def ids(csl: String) = Kql.translate(spark, csl)
      .select("id").as[Long].collect().toSet
    // term boundaries still apply per needle: 'sparkly' is not 'spark'
    assert(ids("kql_hasany | where msg has_any ('spark', 'batch')") === Set(1L, 4L))
    assert(ids("kql_hasany | where msg has_all ('spark', 'shuffle')") === Set(1L))
    assert(ids("kql_hasany | where not(msg has_any ('spark', 'shuffle'))") === Set(3L))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_hasany | where msg has_any (1, 2)")
    }
  }

  test("search: whole-term match ORed over every string column") {
    Seq((1L, "alpha beta", "x"), (2L, "gamma", "beta y"), (3L, "betamax", "z"),
        (4L, "BETA", "q"))
      .toDF("id", "a", "b").createOrReplaceTempView("kql_search")
    def ids(csl: String) = Kql.translate(spark, csl)
      .select("id").as[Long].collect().toSet
    // matches column a on row 1, column b on row 2; 'betamax' is no term
    // match; bare search is case-insensitive
    assert(ids("kql_search | search \"beta\"") === Set(1L, 2L, 4L))
    assert(ids("kql_search | search kind=case_sensitive \"beta\"") === Set(1L, 2L))
    // only string columns participate: a numeric-only frame is rejected
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_search | project id | search \"beta\"")
    }
  }

  test("row_rank_dense/row_rank_min are RUN-based over the frozen order") {
    // value 'a' reappears after a gap → it starts a NEW rank (ADX is
    // run-based, not value-based: these are not dense_rank/rank twins)
    Seq((1L, "a"), (2L, "a"), (3L, "b"), (4L, "a"), (5L, "c"))
      .toDF("id", "k").createOrReplaceTempView("kql_rowrank")
    val got = Kql.translate(spark,
      "kql_rowrank | sort by id asc | serialize rn = row_number(), " +
        "rd = row_rank_dense(k), rm = row_rank_min(k) | project id, rd, rm")
      .as[(Long, Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L, 1L), (2L, 1L, 1L), (3L, 2L, 3L),
      (4L, 3L, 4L), (5L, 4L, 5L)))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_rowrank | sort by id asc | serialize r = row_rank_dense()")
    }
  }

  test("series_stats multi-assign: min/argmin/max/argmax/avg/var/stdev per row") {
    Seq((1L, Seq(5.0, 1.0, 7.0, 1.0)), (2L, Seq(2.0, 2.0, 2.0, 2.0)))
      .toDF("id", "v").createOrReplaceTempView("kql_sstats")
    val got = Kql.translate(spark,
      "kql_sstats | extend (mn, mnidx, mx, mxidx, avg, var, stdev) = series_stats(v) " +
        "| project id, mn, mnidx, mx, mxidx, avg, var, stdev | sort by id asc")
      .collect().toSeq
    val r1 = got.head
    // first-occurrence indices are 0-based; sample variance
    assert((r1.getDouble(1), r1.getLong(2), r1.getDouble(3), r1.getLong(4)) ===
      ((1.0, 1L, 7.0, 2L)))
    assert(r1.getDouble(5) === 3.5 && r1.getDouble(6) === 9.0 && r1.getDouble(7) === 3.0)
    val r2 = got(1)
    assert(r2.getDouble(6) === 0.0, "constant series has zero variance")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_sstats | extend (a, b) = series_stats(v)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_sstats | extend (a, b, c, d, e, f, g) = series_stats(id)")
    }
  }

  test("series_fit_line multi-assign: exact fit on a perfect line") {
    Seq((1L, Seq(1.0, 3.0, 5.0, 7.0))).toDF("id", "v")
      .createOrReplaceTempView("kql_fitline")
    val r = Kql.translate(spark,
      "kql_fitline | extend (rsq, slope, var, rvar, inter) = series_fit_line(v) " +
        "| project rsq, slope, var, rvar, inter").collect().head
    // y = 2x + 1 over x = 0..3: all sums land on exact decimals, so the
    // fit is bit-exact
    assert(r.getDouble(0) === 1.0 && r.getDouble(1) === 2.0)
    assert(r.getDouble(3) === 0.0 && r.getDouble(4) === 1.0)
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_fitline | extend (a, b) = series_bogus(v)")
    }
  }

  test("series_decompose: additive identity, exact phase periodicity") {
    Seq((1L, Seq(10L, 14L, 10L, 14L, 10L, 14L, 10L, 14L)),
        (2L, Seq(5L, 5L, 5L, 5L, 5L, 5L, 5L, 5L)))
      .toDF("id", "v").createOrReplaceTempView("kql_dec")
    val rows = Kql.translate(spark,
      "kql_dec | extend (base, sea, tr, res) = series_decompose(v, 2) " +
        "| project id, v, base, sea, tr, res | sort by id asc").collect()
    def arr(r: org.apache.spark.sql.Row, i: Int): Seq[Double] =
      r.getSeq[Double](i)
    val r1 = rows(0)
    val (y1, b1, s1, t1, e1) =
      (r1.getSeq[Long](1), arr(r1, 2), arr(r1, 3), arr(r1, 4), arr(r1, 5))
    // additive decomposition reassembles the series
    y1.indices.foreach { i =>
      assert(math.abs(y1(i) - (b1(i) + e1(i))) < 1e-9, s"pos $i")
      assert(math.abs(b1(i) - (t1(i) + s1(i))) < 1e-9, s"pos $i")
    }
    // the seasonal component is EXACTLY periodic (phase means are
    // per-phase constants)
    (0 until y1.length - 2).foreach(i => assert(s1(i) === s1(i + 2)))
    // a constant series decomposes to itself: zero seasonal, zero
    // residual, flat trend
    val r2 = rows(1)
    assert(arr(r2, 3).forall(_ === 0.0), "constant series: seasonal 0")
    assert(arr(r2, 5).forall(_ === 0.0), "constant series: residual 0")
    assert(arr(r2, 4).forall(_ === 5.0), "constant series: trend = level")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_dec | extend (a, b) = series_decompose(v, 2)")
    }
    // the omitted-period form is the AUTO mode since round 11 — it
    // translates (its semantics are pinned by the planted-cycle test)
    assert(Kql.translate(spark,
      "kql_dec | extend (a, b, c, d) = series_decompose(v)")
      .columns.count(Set("a", "b", "c", "d")) === 4)
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_dec | extend (a, b, c, d, e, f, g) = series_stats(v, 2)")
    }
    // independent pin: series_decompose and series_decompose_forecast
    // equal, bit for bit, a plain-Scala recompute of the documented
    // recipe — exact sums (integer-valued series, so Long sums ARE the
    // exact decimal sums), then the same IEEE expression order. Returns
    // (baseline, seasonal, trend, residual) at positions 0 until len of
    // the model fitted on `train` (the forecast's horizon runs past it).
    def recipe(train: Seq[Long], p: Int, len: Int): Seq[Seq[Option[Double]]] = {
      val m = train.length
      val n = m.toDouble
      val sy = train.sum.toDouble
      val sxy = train.indices.map(i => train(i) * i).sum.toDouble
      val sx = (n - 1.0) * n / 2.0
      val sx2 = (n - 1.0) * n * (2.0 * n - 1.0) / 6.0
      val line = if (m > 1) {
        val slope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
        Some((slope, sy / n - slope * (sx / n)))
      } else None
      (0 until len).map { i =>
        line.map { case (slope, inter) =>
          val ph = (0 until m).filter(_ % p == i % p)
          val c = ph.length.toDouble
          val sea = (ph.map(train(_)).sum.toDouble - slope * ph.sum.toDouble -
            inter * c) / c
          val trend = slope * i.toDouble + inter
          val resid = if (i < m) (train(i).toDouble - trend) - sea else Double.NaN
          Seq(trend + sea, sea, trend, resid)
        } match {
          case Some(parts) => parts.map(Some(_))
          case None => Seq.fill(4)(None)
        }
      }.transpose
    }
    def bits(xs: Seq[Option[Double]]): Seq[Option[Long]] =
      xs.map(_.map(java.lang.Double.doubleToLongBits))
    def doubles(r: org.apache.spark.sql.Row, i: Int): Seq[Option[Double]] =
      r.getSeq[Any](i).map(x => Option(x).map(_.asInstanceOf[Double]))
    val rng = new scala.util.Random(7)
    for (p <- Seq(2, 7, 12)) {
      val series = Seq(1, p - 1, p, 3 * p + 1).zipWithIndex.map { case (len, k) =>
        (k.toLong, Seq.tabulate(len)(i => (rng.nextInt(41) + i / 3).toLong))
      }
      series.toDF("id", "v").createOrReplaceTempView("kql_dec_pin")
      val got = Kql.translate(spark,
        s"kql_dec_pin | extend (base, sea, tr, res) = series_decompose(v, $p) " +
          "| project id, base, sea, tr, res | sort by id asc").collect()
      series.zip(got).foreach { case ((_, y), r) =>
        val want = recipe(y, p, y.length)
        (0 until 4).foreach(c =>
          assert(bits(doubles(r, c + 1)) === bits(want(c)), s"p $p len ${y.length} col $c"))
      }
      // the forecast trains on all but the last 2 points; it raises on a
      // series shorter than that (a negative slice length) and when the
      // train prefix misses a phase the horizon reaches (c = 0), so only
      // lengths whose model is defined are pinned
      val fcSeries = Seq(2, p + 2, 3 * p + 1).map(len =>
        Seq.tabulate(len)(i => (rng.nextInt(41) + i / 3).toLong))
      fcSeries.zipWithIndex.map { case (y, k) => (k.toLong, y) }
        .toDF("id", "v").createOrReplaceTempView("kql_fc_pin")
      val fc = Kql.translate(spark,
        s"kql_fc_pin | extend fc = series_decompose_forecast(v, 2, $p) " +
          "| project id, fc | sort by id asc").collect()
      fcSeries.zip(fc).foreach { case (y, r) =>
        assert(bits(doubles(r, 1)) === bits(recipe(y.dropRight(2), p, y.length).head),
          s"forecast p $p len ${y.length}")
      }
    }
  }

  test("invoke: let-bound tabular function inlines with typed parameters") {
    Seq((1L, "a", 5.0), (2L, "a", 50.0), (3L, "b", 60.0))
      .toDF("id", "k", "v").createOrReplaceTempView("kql_fn")
    val got = Kql.translate(spark,
      "let pick = (T:(*), thr:long, kind:string) { " +
        "T | where v > thr and k == kind | project id }; " +
        "kql_fn | invoke pick(10, 'a') | sort by id asc")
      .as[Long].collect().toSeq
    assert(got === Seq(2L))
    // parameters SHADOW outer scalar lets inside the body (pick(1) keeps
    // all rows; the outer thr=55 would keep one) and RESTORE after the
    // invoke (the extend reads 55 again)
    val shadow = Kql.translate(spark,
      "let thr = 55; " +
        "let pick = (T:(*), thr:long) { T | where v > thr | project id }; " +
        "kql_fn | invoke pick(1) | extend t = thr | where t == 55 " +
        "| project id | sort by id asc")
      .as[Long].collect().toSeq
    assert(shadow === Seq(1L, 2L, 3L), "param shadows in body, restores after")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_fn | invoke nosuch(1)")
    }
    intercept[IllegalArgumentException] {
      // arity mismatch is loud
      Kql.translate(spark,
        "let f = (T:(*), a:long) { T | where v > a }; kql_fn | invoke f()")
    }
    intercept[IllegalArgumentException] {
      // first parameter must be tabular — that is what invoke pipes into
      Kql.translate(spark,
        "let f = (a:long) { kql_fn | where v > a }; kql_fn | invoke f(1)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "let f = (T:(*), a:frobnitz) { T }; kql_fn | take 1")
    }
  }

  test("reduce by: digit runs fold to * and patterns group") {
    Seq("err_17_disk", "err_9_disk", "ok_123", "ok_7", "plain")
      .toDF("msg").createOrReplaceTempView("kql_red")
    val got = Kql.translate(spark,
      "kql_red | reduce by msg | sort by Pattern asc")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(got === Seq(("err_*_disk", 2L), ("ok_*", 2L), ("plain", 1L)))
  }

  test("reduce by: GUID and digit-bearing hex runs fold; pure-letter words survive") {
    Seq(
      // GUIDs fold whole regardless of digit content
      "req 550e8400-e29b-41d4-a716-446655440000 done",
      "req deadbeef-cafe-babe-feed-deadbeefcafe done",
      // a mixed hex run folds (digits inside seed the absorption)
      "sess deadbeef1234cafe end",
      "sess 00ff00ff00ff00ff end",
      // pure-letter hex-alphabet words must NOT fold
      "cafe added a deed",
      "cafe added a face")
      .toDF("msg").createOrReplaceTempView("kql_red2")
    val got = Kql.translate(spark,
      "kql_red2 | reduce by msg | sort by Pattern asc")
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(got === Seq(
      ("cafe added a deed", 1L),
      ("cafe added a face", 1L),
      ("req * done", 2L),
      ("sess * end", 2L)))
  }

  test("ipv4 family: parse bounds, format round trip, RFC1918, CIDR edges") {
    Seq("0.0.0.0", "255.255.255.255", "256.1.1.1", "1.2.3.4.5", "1.2.3",
      "10.0.0.1", "9.255.255.255", "172.15.255.255", "172.16.0.0",
      "172.31.255.255", "172.32.0.0", "192.168.0.1", "192.169.0.0", "junk")
      .toDF("ip").createOrReplaceTempView("kql_ip")
    val rows = Kql.translate(spark,
      "kql_ip | extend l = parse_ipv4(ip), p = ipv4_is_private(ip), " +
        "r = ipv4_is_in_range(ip, '172.16.0.0/12'), " +
        "rt = format_ipv4(parse_ipv4(ip)) " +
        "| project ip, l, p, r, rt").collect()
      .map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
          if (r.isNullAt(2)) None else Some(r.getBoolean(2)),
          if (r.isNullAt(3)) None else Some(r.getBoolean(3)),
          Option(r.getString(4))))).toMap
    assert(rows("0.0.0.0")._1 === Some(0L))
    assert(rows("255.255.255.255")._1 === Some(4294967295L))
    for (bad <- Seq("256.1.1.1", "1.2.3.4.5", "1.2.3", "junk"))
      assert(rows(bad) === ((None, None, None, None)), bad)
    // round trip is the identity on every valid quad
    for ((ip, (l, _, _, rt)) <- rows if l.isDefined)
      assert(rt === Some(ip), ip)
    // RFC 1918 block edges
    assert(rows("10.0.0.1")._2 === Some(true))
    assert(rows("9.255.255.255")._2 === Some(false))
    assert(rows("172.15.255.255")._2 === Some(false))
    assert(rows("172.16.0.0")._2 === Some(true))
    assert(rows("172.31.255.255")._2 === Some(true))
    assert(rows("172.32.0.0")._2 === Some(false))
    assert(rows("192.168.0.1")._2 === Some(true))
    assert(rows("192.169.0.0")._2 === Some(false))
    // the /12 is exactly the 172.16-31 window
    assert(rows("172.15.255.255")._3 === Some(false))
    assert(rows("172.16.0.0")._3 === Some(true))
    assert(rows("172.31.255.255")._3 === Some(true))
    assert(rows("172.32.0.0")._3 === Some(false))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_ip | extend x = ipv4_is_in_range(ip, '1.2.3.4/40')")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_ip | extend x = ipv4_is_in_range(ip, '1.2.999.4/8')")
    }
  }

  test("format_ipv4 accepts a dotted string under ANSI (try_cast probe)") {
    ev.createOrReplaceTempView("kql_events")
    // the long probe on a dotted literal must fall through null (not
    // throw CAST_INVALID_INPUT) and land on the parse path
    val r = Kql.translate(spark,
      "kql_events | take 1 | extend a = format_ipv4('1.2.3.4'), " +
        "b = format_ipv4(16909060), c = format_ipv4('not an ip') " +
        "| project a, b, c")
      .as[(String, String, Option[String])].head()
    assert(r === (("1.2.3.4", "1.2.3.4", None)))
  }

  test("matches regex / extract_all: RE2-compatible literal patterns") {
    Seq((1L, "click-12x9"), (2L, "view-3x44"), (3L, "CLICK-5x6"))
      .toDF("id", "s").createOrReplaceTempView("kql_rx")
    def ids(csl: String) = Kql.translate(spark, csl)
      .select("id").as[Long].collect().toSet
    // unanchored, case-SENSITIVE (rlike semantics, same as ADX)
    assert(ids("kql_rx | where s matches regex '^click-'") === Set(1L))
    assert(ids("kql_rx | where s matches regex '(?:click|view)-'") === Set(1L, 2L))
    val ea = Kql.translate(spark,
      "kql_rx | where id == 1 | extend d = extract_all('([0-9]+)', s) " +
        "| mv-expand d | project d").as[String].collect().toSeq
    assert(ea === Seq("12", "9"))
    // gate: invalid pattern, lookaround, and a group-less extract_all
    // all fail at translate time
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_rx | where s matches regex '(unclosed'")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_rx | where s matches regex 'a(?=b)'")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_rx | extend d = extract_all('[0-9]+', s)")
    }
  }

  test("parse kind=regex: raw fragments, captures stay the bare idents") {
    Seq((1L, "click-12x9"), (2L, "view-3x44"))
      .toDF("id", "s").createOrReplaceTempView("kql_prx")
    val got = Kql.translate(spark,
      "kql_prx | parse kind=regex s with '[a-z]+-' eid 'x' uid " +
        "| project id, eid, uid | sort by id asc")
      .as[(Long, String, String)].collect().toSeq
    assert(got === Seq((1L, "12", "9"), (2L, "3", "44")))
    // a fragment smuggling a CAPTURING group would shift group numbers
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_prx | parse kind=regex s with '([a-z]+)-' eid 'x' uid")
    }
    // non-capturing groups in fragments are fine
    val nc = Kql.translate(spark,
      "kql_prx | parse kind=regex s with '(?:[a-z]+)-' eid 'x' uid " +
        "| where id == 2 | project eid").as[String].head()
    assert(nc === "3")
  }

  test("series_decompose_anomalies equals outliers-on-residual exactly") {
    // the series must be long enough that one spike does not drag the
    // p90 fence with it (with n=8 the spike IS the interpolation
    // window and the score saturates near 1.1 at any spike size)
    val spiky = (0 until 22).map(i =>
      if (i == 4) 100L else if (i % 2 == 0) 10L else 14L)
    Seq((1L, spiky), (2L, Seq.fill(22)(5L)))
      .toDF("id", "v").createOrReplaceTempView("kql_da")
    val rows = Kql.translate(spark,
      "kql_da | extend (flag, score, base) = series_decompose_anomalies(v, 2) " +
        "| extend (b2, s2, t2, r2) = series_decompose(v, 2) " +
        "| extend sc2 = series_outliers(r2) " +
        "| project id, flag, score, base, b2, sc2 | sort by id asc").collect()
    rows.foreach { r =>
      val flag = r.getSeq[Int](1)
      val score = r.getSeq[Double](2)
      val base = r.getSeq[Double](3)
      val b2 = r.getSeq[Double](4)
      val sc2 = r.getSeq[Double](5)
      // the composed call IS decompose + ctukey-outliers, value for value
      assert(score === sc2)
      assert(base === b2)
      // the flag is exactly the 1.5 threshold on the rounded score
      flag.indices.foreach { i =>
        val want = if (score(i) > 1.5) 1 else if (score(i) < -1.5) -1 else 0
        assert(flag(i) === want, s"pos $i")
      }
    }
    // the planted spike flags positive somewhere; the constant series
    // flags nowhere
    assert(rows(0).getSeq[Int](1).contains(1))
    assert(rows(1).getSeq[Int](1).forall(_ === 0))
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_da | extend (a, b) = series_decompose_anomalies(v, 2)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_da | extend (a, b, c) = series_decompose_anomalies(v)")
    }
  }

  test("empty series arrays: fills/fir/outliers yield empty, not garbage") {
    Seq((1L, Seq.empty[Double]), (2L, Seq(1.0, 2.0)))
      .toDF("id", "v").createOrReplaceTempView("kql_empty")
    val r = Kql.translate(spark,
      "kql_empty | extend ff = series_fill_forward(v), " +
        "lf = series_fill_linear(v), " +
        "fr = series_fir(v, dynamic([1, 1])), " +
        "ol = series_outliers(v) " +
        "| project id, ff, lf, fr, ol | sort by id asc").collect()
    // sequence(1, 0) would have produced a DESCENDING [1, 0] grid (a
    // 2-element garbage array) and element_at(_, 0) an ANSI error
    (1 to 4).foreach(i => assert(r(0).getSeq[Double](i) === Seq.empty, s"col $i"))
    assert(r(1).getSeq[Double](1) === Seq(1.0, 2.0))
    // the decompose family likewise: fixed and auto period, anomalies
    // and forecast (the auto period raised DIVIDE_BY_ZERO on `[]`)
    val d = Kql.translate(spark,
      "kql_empty | extend (b1, s1, t1, e1) = series_decompose(v, 2) " +
        "| extend (b2, s2, t2, e2) = series_decompose(v) " +
        "| extend (fl, sc, bl) = series_decompose_anomalies(v, 2) " +
        "| extend fc = series_decompose_forecast(v, 2, 2) " +
        "| project id, b1, s1, t1, e1, b2, s2, t2, e2, fl, sc, bl, fc " +
        "| sort by id asc").collect()
    (1 to 12).foreach(i => assert(d(0).getSeq[Any](i) === Seq.empty, s"col $i"))
    (1 to 12).foreach(i => assert(d(1).getSeq[Any](i).length === 2, s"col $i"))
    // the scalar outputs of series_stats and series_fit_line are null on
    // `[]` (sy / n raised DIVIDE_BY_ZERO)
    val st = Kql.translate(spark,
      "kql_empty | extend (mn, mni, mx, mxi, avg, var, sd) = series_stats(v) " +
        "| extend (rsq, slope, fvar, rvar, icpt) = series_fit_line(v) " +
        "| project id, mn, mni, mx, mxi, avg, var, sd, rsq, slope, fvar, rvar, icpt " +
        "| sort by id asc").collect()
    (1 to 12).foreach(i => assert(st(0).isNullAt(i), s"col $i"))
    assert(st(1).getDouble(5) === 1.5 && st(1).getDouble(9) === 1.0)
  }

  test("search is row-wise: a frozen sort survives it into serialize") {
    Seq((3L, "beta x"), (1L, "beta y"), (2L, "gamma"))
      .toDF("id", "s").createOrReplaceTempView("kql_ss")
    val got = Kql.translate(spark,
      "kql_ss | sort by id asc | search 'beta' " +
        "| serialize rn = row_number() | project id, rn")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L), (3L, 2L)))
  }

  test("bag_unpack fails loudly past the key-cardinality cap") {
    import org.apache.spark.sql.functions.{col => fcol}
    // a pathological bag: one unique key per row — the schema would
    // scale with the data
    spark.range(graft.ingest.Kql.BagUnpackKeyCap + 5)
      .select(fcol("id"),
        concat(lit("{\"k"), fcol("id").cast("string"), lit("\": 1}")).as("bag"))
      .createOrReplaceTempView("kql_bigbag")
    val ex = intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_bigbag | evaluate bag_unpack(bag)")
    }
    assert(ex.getMessage.contains("distinct keys"))
  }

  test("print evaluates one literal row; bare expressions are rejected") {
    val r = Kql.translate(spark, "print a = 1 + 1, b = strcat('x', 'y')")
      .collect()
    assert(r.length === 1)
    assert(r(0).getLong(0) === 2L && r(0).getString(1) === "xy")
    // print is a source: stages pipe off it like any table
    val n = Kql.translate(spark,
      "print w = split('a b', ' ') | mv-expand w | count")
      .collect()(0).getLong(0)
    assert(n === 2L)
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "print 1 + 1")
    }
  }

  test("parse-kv: typed keys extract; absent and garbage values null") {
    Seq((1L, "lvl=2 src=web u=7"), (2L, "src=app other=9"),
        (3L, "lvl=x u=|| src="))
      .toDF("id", "s").createOrReplaceTempView("kql_kv")
    val got = Kql.translate(spark,
      "kql_kv | parse-kv s as (lvl: long, src: string, u: long) " +
        "with (pair_delimiter=' ', kv_delimiter='=') " +
        "| project id, lvl, src, u | sort by id asc")
      .as[(Long, Option[Long], String, Option[Long])].collect().toSeq
    assert(got === Seq(
      (1L, Some(2L), "web", Some(7L)),
      (2L, None, "app", None),       // lvl/u absent → null long
      (3L, None, "", None)))         // garbage long → null; empty string stays ''
    // a multi-char pair delimiter has no sound char-class form
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_kv | parse-kv s as (a: long) " +
        "with (pair_delimiter='ab', kv_delimiter='=')")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_kv | parse-kv s as (a: unknownty)")
    }
  }

  test("array scalars: length/slice/index_of/concat/pack/strcat_array") {
    val r = Kql.translate(spark,
      "print w = split('a b c d', ' ') " +
        "| extend n = array_length(w), " +
        "sl = strcat_array(array_slice(w, 1, 2), '-'), " +
        "i1 = array_index_of(w, 'c'), i2 = array_index_of(w, 'zz'), " +
        "cc = array_length(array_concat(w, pack_array('x'))) " +
        "| project n, sl, i1, i2, cc")
      .as[(Long, String, Long, Long, Long)].head()
    // slice is 0-based END-INCLUSIVE (ADX), index_of 0-based/-1 absent
    assert(r === ((4L, "b-c", 2L, -1L, 5L)))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "print w = split('a b', ' ') " +
        "| extend x = array_slice(w, 2, 1)")
    }
  }

  test("trim_start/trim_end and 3-arg split follow the ADX contracts") {
    val r = Kql.translate(spark,
      "print a = trim_start('[0-9]', '12ab34'), " +
        "b = trim_end('[0-9]', '12ab34'), " +
        "c = split('p,q,r', ',', 1), d = split('p,q,r', ',', 9)")
      .as[(String, String, String, Option[String])].head()
    assert(r === (("ab34", "12ab", "q", None)))
  }

  test("top-hitters sketch path returns the exact answer") {
    ev.createOrReplaceTempView("kql_events")
    val exact = Kql.translate(spark,
      "kql_events | top-hitters 3 of event_type").collect().toSeq
    spark.conf.set("spark.graft.kql.topHittersSketch", "true")
    try {
      val sketch = Kql.translate(spark,
        "kql_events | top-hitters 3 of event_type").collect().toSeq
      // the two-round bucket prune is SOUND: identical output, never an
      // approximation of it — which is why the exact twin stays the oracle
      assert(sketch === exact)
      // the `by` sum form has no sound bucket bound: stays exact
      val bySum = Kql.translate(spark,
        "kql_events | top-hitters 3 of event_type by user_id").collect().toSeq
      assert(bySum.nonEmpty)
    } finally spark.conf.unset("spark.graft.kql.topHittersSketch")
  }

  test("render is accept-and-strip: data unchanged, unknown kinds ok, never mid-pipeline") {
    ev.createOrReplaceTempView("kql_events")
    val bare = Kql.translate(spark,
      "kql_events | summarize n = count() by event_type | sort by event_type asc")
      .collect().toSeq
    // stripped: with-props form, bare form, and an UNKNOWN kind (ADX
    // adds kinds over time; saved queries must not start failing)
    for (suffix <- Seq("| render timechart",
        "| render barchart with (title='x', kind=unstacked)",
        "| render somefuturechart")) {
      val got = Kql.translate(spark,
        "kql_events | summarize n = count() by event_type " +
          s"| sort by event_type asc $suffix").collect().toSeq
      assert(got === bare, suffix)
    }
    // ADX rejects operators after render
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | render timechart | take 5")
    }
  }

  test("as binds the mid-pipeline result like a tabular let") {
    ev.createOrReplaceTempView("kql_events")
    // the as-bound frame feeds a later union side: rows double
    val n = ev.filter($"event_type" === "click").count()
    val got = Kql.translate(spark,
      "kql_events | where event_type == 'click' | as Clicks " +
        "| union Clicks | count").as[Long].head()
    assert(got === 2 * n)
    // materialized hint: same result, checkpointed binding
    val got2 = Kql.translate(spark,
      "kql_events | where event_type == 'click' " +
        "| as hint.materialized=true Clicks | union Clicks | count")
      .as[Long].head()
    assert(got2 === 2 * n)
  }

  test("find unions by name with source_ provenance; predicate scopes by column presence") {
    Tables.nation(spark, sfDir).createOrReplaceTempView("kql_nation")
    Tables.region(spark, sfDir).createOrReplaceTempView("kql_region")
    val got = Kql.translate(spark,
      "find in (kql_nation, kql_region) where n_regionkey == 2 or r_regionkey == 2")
      .collect().toSeq
    // default provenance column name is ADX's source_, emitted first
    assert(got.head.schema.fieldNames.head === "source_")
    val bySrc = got.groupBy(_.getAs[String]("source_"))
    // nation rows match on n_regionkey; region rows only via r_regionkey
    // (their n_regionkey is null in the merged schema — never matches)
    val nNation = Tables.nation(spark, sfDir)
      .filter($"n_regionkey" === 2).count()
    assert(bySrc("kql_nation").size.toLong === nNation)
    assert(bySrc("kql_region").size === 1)
    bySrc("kql_region").foreach { r =>
      assert(r.getAs[Any]("n_nationkey") == null) // merged-schema null
    }
  }

  test("fork: branch isolation — sibling state never leaks, labels tag rows") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark,
      "kql_events | fork a = (where event_type == 'click' | count) " +
        "b = (where event_type == 'purchase' | count)")
    assert(got.columns.head === "source_")
    val m = got.collect().map(r =>
      r.getAs[String]("source_") -> r.getAs[Long]("Count")).toMap
    assert(m("a") === ev.filter($"event_type" === "click").count())
    assert(m("b") === ev.filter($"event_type" === "purchase").count())
    // a sort inside one branch must not satisfy a sibling's serialize
    // precondition (branch isolation of lastSort)
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | fork a = (sort by event_id asc | take 1) " +
          "b = (serialize rn = row_number())")
    }
    // unnamed branches get positional names
    val anon = Kql.translate(spark,
      "kql_events | fork (count) (count)").collect()
      .map(_.getAs[String]("source_")).toSet
    assert(anon === Set("fork_0", "fork_1"))
  }

  test("facet: one labeled distribution per column") {
    ev.createOrReplaceTempView("kql_events")
    val got = Kql.translate(spark, "kql_events | facet by event_type")
    assert(got.columns.toSeq === Seq("source_", "value", "count_"))
    val want = ev.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = got.collect()
    assert(rows.map(_.getAs[String]("source_")).toSet === Set("event_type"))
    rows.foreach { r =>
      assert(r.getAs[Long]("count_") === want(r.getAs[String]("value")))
    }
  }

  test("series_periods_detect finds a planted 7-cycle; auto decompose equals explicit") {
    // a PURE 7-periodic series (no trend): lag 7 must win, lag 14 is
    // the echo (same correlation structure, fewer overlap terms, so a
    // strictly lower score) — the tie-break law is deterministic
    spark.range(1).selectExpr(
      "transform(sequence(0, 83), i -> CAST(i % 7 AS DOUBLE) * 3.0) AS y")
      .createOrReplaceTempView("kql_planted")
    val det = Kql.translate(spark,
      "kql_planted | extend (periods, scores) = series_periods_detect(y, 2, 20, 3)")
      .select("periods", "scores").as[(Seq[Long], Seq[Double])].head()
    assert(det._1.head === 7L, det.toString)
    assert(det._1.contains(14L))
    assert(det._2.head >= det._2(det._1.indexOf(14L)))
    assert(det._2.head > 0.9, s"planted cycle should score near 1: ${det._2}")
    // the auto (omitted-period) decompose detects 7 and must equal the
    // explicit-period form ELEMENT-FOR-ELEMENT (same recipe, dynamic
    // phase means vs unrolled)
    val auto = Kql.translate(spark,
      "kql_planted | extend (b, s, t, r) = series_decompose(y)")
      .select("b", "s", "t", "r").collect().toSeq
    val explicit = Kql.translate(spark,
      "kql_planted | extend (b, s, t, r) = series_decompose(y, 7)")
      .select("b", "s", "t", "r").collect().toSeq
    assert(auto === explicit)
    // a constant series has no period: empty detection, and the auto
    // decompose falls back to p = 1 (seasonal ≡ phase mean of the
    // detrended series ≡ 0 by the normal equations)
    spark.range(1).selectExpr(
      "transform(sequence(0, 29), i -> 5.0) AS y")
      .createOrReplaceTempView("kql_flat")
    val flat = Kql.translate(spark,
      "kql_flat | extend (periods, scores) = series_periods_detect(y, 2, 10, 2)")
      .select("periods").as[Seq[Long]].head()
    assert(flat.isEmpty)
    val flatSea = Kql.translate(spark,
      "kql_flat | extend (b, s, t, r) = series_decompose(y)")
      .select("s").as[Seq[Double]].head()
    flatSea.foreach(x => assert(math.abs(x) < 1e-9))
  }

  test("case-insensitive operators and the endof/startof datetime family") {
    ev.createOrReplaceTempView("kql_events")
    // =~ / in~ match regardless of case; == does not
    val ci = Kql.translate(spark,
      "kql_events | where event_type =~ 'CLICK' | count").as[Long].head()
    assert(ci === ev.filter($"event_type" === "click").count() && ci > 0)
    val cin = Kql.translate(spark,
      "kql_events | where event_type in~ ('CLICK', 'Purchase') | count")
      .as[Long].head()
    assert(cin === ev.filter($"event_type".isin("click", "purchase")).count())
    val notIn = Kql.translate(spark,
      "kql_events | where event_type !in~ ('CLICK', 'Purchase') | count")
      .as[Long].head()
    assert(notIn === ev.count() - cin)
    assert(Kql.translate(spark,
      "kql_events | where event_type == 'CLICK' | count").as[Long].head() === 0L)
    // bare '~' is still not an operator
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "kql_events | where value ~ 3")
    }
    // the period family: ADX weeks start SUNDAY; endof* = next period
    // start minus one µs
    val r = Kql.translate(spark,
      "print d = datetime(2024-01-10 13:45:30) " + // a Wednesday
        "| extend sow = startofweek(d), eod = endofday(d), eow = endofweek(d), " +
        "eom = endofmonth(d), eoy = endofyear(d), hod = hourofday(d), " +
        "dom = dayofmonth(d), moy = monthofyear(d), yr = getyear(d)")
      .selectExpr("CAST(sow AS STRING)", "CAST(eod AS STRING)",
        "CAST(eow AS STRING)", "CAST(eom AS STRING)", "CAST(eoy AS STRING)",
        "hod", "dom", "moy", "yr").head()
    assert(r.getString(0) === "2024-01-07 00:00:00") // the Sunday before
    assert(r.getString(1) === "2024-01-10 23:59:59.999999")
    assert(r.getString(2) === "2024-01-13 23:59:59.999999") // Saturday end
    assert(r.getString(3) === "2024-01-31 23:59:59.999999")
    assert(r.getString(4) === "2024-12-31 23:59:59.999999")
    assert((r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8)) === ((13, 10, 1, 2024)))
  }

  test("hints: advisory ones strip; join hint.strategy=broadcast is a real broadcast") {
    ev.createOrReplaceTempView("kql_events")
    val df = Kql.translate(spark,
      "kql_events | summarize hint.shufflekey = user_id n = count() by user_id " +
        "| join hint.strategy = broadcast kind=inner (kql_events " +
        "| summarize hint.num_partitions = 8 p = count() by user_id) on user_id")
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "hint.strategy=broadcast must pin a broadcast join")
    assert(df.count() === ev.select("user_id").distinct().count())
    // a malformed hint fails loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | join hint.strategy = sideways kind=inner (kql_events) on user_id")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "kql_events | summarize hint.shufflekey = 3 n = count() by user_id")
    }
  }

  test("scalar tier 3: base64 round trip, strrep, array ops, project-reorder") {
    val r = Kql.translate(spark,
      "print s = 'abc', n = pack_array(3, 1, 2) " +
        "| extend b = base64_encode_tostring(s), " +
        "r2 = strrep(s, 2), r3 = strrep(s, 3, '|'), " +
        "t = tobool('TRUE'), sm = array_sum(n), " +
        "sa = array_sort_asc(n), sd = array_sort_desc(n) " +
        "| extend d = base64_decode_tostring(b)")
    val row = r.head()
    assert(row.getAs[String]("b") === "YWJj")
    assert(row.getAs[String]("d") === "abc")
    assert(row.getAs[String]("r2") === "abcabc")
    assert(row.getAs[String]("r3") === "abc|abc|abc")
    assert(row.getAs[Boolean]("t") === true)
    assert(row.getAs[Double]("sm") === 6.0)
    assert(row.getAs[Seq[Long]]("sa") === Seq(1L, 2L, 3L))
    assert(row.getAs[Seq[Long]]("sd") === Seq(3L, 2L, 1L))
    // project-reorder: listed first in list order, the rest in TABLE order
    val cols = Kql.translate(spark,
      "print a = 1, b = 2, c = 3, d = 4 | project-reorder c, b").columns.toSeq
    assert(cols === Seq("c", "b", "a", "d"))
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "print a = 1 | project-reorder zz")
    }
  }

  test("externaldata: typed csv scan; non-csv formats rejected") {
    java.nio.file.Files.write(
      java.nio.file.Paths.get("/tmp/graft_externaldata_spec.csv"),
      java.util.Arrays.asList("10,x", "20,y"))
    val got = Kql.translate(spark,
      "externaldata (id: long, tag: string) " +
        "['file:///tmp/graft_externaldata_spec.csv'] with (format='csv') " +
        "| sort by id asc").as[(Long, String)].collect().toSeq
    assert(got === Seq((10L, "x"), (20L, "y")))
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "externaldata (id: long) ['file:///tmp/x.json'] with (format='json')")
    }
  }

  test("scalar tier 4: parse_url absent parts, url_decode, format_bytes, has_all/has_any function forms") {
    // parse_url: ABSENT PARTS ARE EMPTY STRINGS (the ADX contract) and
    // access rides the standard dynamic path idiom
    val full = Kql.translate(spark,
      "print p = parse_url('https://u:pw@h.example.com:8443/a/b?x=1&y=2#frag') " +
        "| project scheme = tostring(p.Scheme), host = tostring(p.Host), " +
        "port = tostring(p.Port), path = tostring(p.Path), " +
        "qs = tostring(p.Query), frag = tostring(p.Fragment)")
      .as[(String, String, String, String, String, String)].head()
    assert(full === ("https", "h.example.com", "8443", "/a/b", "x=1&y=2", "frag"))
    val bare = Kql.translate(spark,
      "print p = parse_url('http://host') " +
        "| project port = tostring(p.Port), path = tostring(p.Path), " +
        "qs = tostring(p.Query), frag = tostring(p.Fragment)")
      .as[(String, String, String, String)].head()
    assert(bare === ("", "", "", ""))
    // url_decode: '+' is a space, %XX decodes (URLDecoder semantics)
    assert(Kql.translate(spark,
      "print d = url_decode('a%20b+c%2Fd%3De')").as[String].head() === "a b c/d=e")
    // format_bytes: default precision 0, half-up, largest unit >= 1
    val fb = Kql.translate(spark,
      "print a = format_bytes(0), b = format_bytes(1023), c = format_bytes(1024), " +
        "d = format_bytes(1536), e = format_bytes(1048576), f = format_bytes(5497558138880)")
      .as[(String, String, String, String, String, String)].head()
    assert(fb === ("0 Bytes", "1023 Bytes", "1 KB", "2 KB", "1 MB", "5 TB"))
    // has_all / has_any function forms over dynamic array literals:
    // whole-term boundary semantics, same as the infix operators
    val h = Kql.translate(spark,
      "print t = 'spark shuffles data' " +
        "| project a = iff(has_all(t, dynamic(['spark', 'data'])), 1, 0), " +
        "b = iff(has_all(t, dynamic(['spark', 'shuffle'])), 1, 0), " +
        "c = iff(has_any(t, dynamic(['shuffle', 'data'])), 1, 0)")
      .as[(Long, Long, Long)].head()
    assert(h === ((1L, 0L, 1L)), "term boundaries: 'shuffle' is not a term of 'shuffles'")
    // malformed second arg fails loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "print x = has_all('a b', 'a')")
    }
  }

  test("externaldata parquet: footer-validated scan; schema drift rejected") {
    val uri = s"file://$sfDir/region.parquet"
    val got = Kql.translate(spark,
      s"externaldata (r_regionkey: int, r_name: string) ['$uri'] " +
        "with (format='parquet') | sort by r_regionkey asc")
      .as[(Int, String)].collect().toSeq
    val want = Tables.region(spark, sfDir)
      .select("r_regionkey", "r_name").orderBy("r_regionkey")
      .as[(Int, String)].collect().toSeq
    assert(got === want && got.nonEmpty)
    // declared type diverges from the footer (int32 in the file) -> loud
    val eTy = intercept[IllegalArgumentException] {
      Kql.translate(spark,
        s"externaldata (r_regionkey: string) ['$uri'] with (format='parquet')")
    }
    assert(eTy.getMessage.contains("declared string"))
    // declared column absent from the footer -> loud
    val eCol = intercept[IllegalArgumentException] {
      Kql.translate(spark,
        s"externaldata (nope: int) ['$uri'] with (format='parquet')")
    }
    assert(eCol.getMessage.contains("absent from"))
  }

  test("scalar tier 5: datetime_diff boundaries, sets, hashes, inf family") {
    // boundary-crossing contract: one µs across a boundary counts 1
    val d = Kql.translate(spark,
      "print y = datetime_diff('year', datetime(2015-01-01), datetime(2014-12-31)), " +
        "m = datetime_diff('month', datetime(2015-01-01), datetime(2014-12-31)), " +
        "q = datetime_diff('quarter', datetime(2015-01-01), datetime(2014-12-31)), " +
        // ADX weeks start SUNDAY: Sat 2024-01-06 -> Sun 2024-01-07 crosses
        "w = datetime_diff('week', datetime(2024-01-07), datetime(2024-01-06)), " +
        "w0 = datetime_diff('week', datetime(2024-01-06), datetime(2024-01-01)), " +
        "h = datetime_diff('hour', datetime(2024-01-01 01:00:00), datetime(2024-01-01 00:59:59)), " +
        "neg = datetime_diff('day', datetime(2024-01-01), datetime(2024-01-05))")
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(d === ((1L, 1L, 1L, 1L, 0L, 1L, -4L)))
    val t = Kql.translate(spark,
      "print dow = dayofweek(datetime(2024-01-07)), " + // a Sunday
        "mk = iff(make_datetime(2024, 1, 7, 10, 30, 15) == todatetime('2024-01-07 10:30:15'), 1, 0), " +
        "us = iff(unixtime_seconds_todatetime(1704067200) == datetime(2024-01-01), 1, 0), " +
        "ums = iff(unixtime_milliseconds_todatetime(1704067200500) == todatetime('2024-01-01 00:00:00.5'), 1, 0), " +
        "tr = translate('abc', 'xyz', 'aabbcc'), " + // ADX order: text LAST
        "fin = iff(isfinite(1.5), 1, 0), inf = iff(isinf(exp(1000.0)), 1, 0), " +
        "nf = iff(isfinite(exp(1000.0)), 1, 0)")
      .as[(Int, Long, Long, Long, String, Long, Long, Long)].head()
    assert(t === ((0, 1L, 1L, 1L, "xxyyzz", 1L, 1L, 0L)))
    val sets = Kql.translate(spark,
      "print su = strcat_array(set_union(dynamic(['b', 'a', 'b']), dynamic(['c', 'a'])), ','), " +
        "si = strcat_array(set_intersect(dynamic(['b', 'a', 'b']), dynamic(['c', 'a'])), ','), " +
        "sd = strcat_array(set_difference(dynamic(['b', 'a', 'b']), dynamic(['c', 'a'])), ','), " +
        "hm = hash_md5('abc'), hs = hash_sha256('abc')")
      .as[(String, String, String, String, String)].head()
    assert(sets._1 === "a,b,c" && sets._2 === "a" && sets._3 === "b")
    assert(sets._4 === "900150983cd24fb0d6963f7d28e17f72")
    assert(sets._5 === "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "print x = datetime_diff('fortnight', now(), now())")
    }
  }

  test("basket: cube patterns, wildcard rows, threshold gate, null exclusion") {
    // 4 clean rows + 1 null row (excluded up front): patterns over
    // (a, b) with threshold 0.5 → count >= 2 of 4
    val got = Kql.translate(spark,
      "datatable(a: string, b: string)['x', 'p', 'x', 'p', 'x', 'q', 'y', 'p', null, 'p'] " +
        "| evaluate basket(0.5)")
      .as[(Option[String], Option[String], Long, Double)].collect().toSeq
    val want = Seq(
      (Some("x"), None, 3L, 0.75),        // a=x wildcard-b
      (None, Some("p"), 3L, 0.75),        // wildcard-a b=p
      (Some("x"), Some("p"), 2L, 0.5))    // the joint pattern
    assert(got.toSet === want.toSet, got.toString)
    // threshold gate: at 0.8 only nothing survives except... nothing
    val none = Kql.translate(spark,
      "datatable(a: string, b: string)['x', 'p', 'x', 'q', 'y', 'p', 'y', 'q'] " +
        "| evaluate basket(0.8)").count()
    assert(none === 0L)
    // arity cap fails loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "datatable(a: long, b: long, c: long, d: long, e: long, f: long)" +
          "[1, 2, 3, 4, 5, 6] | evaluate basket")
    }
  }

  test("funnel_sequence_completion: windowed chain, earliest-anchor dialect pinned") {
    // actor 1 completes all three inside 3d windows; actor 2's click is
    // past the window; actor 3 RE-ENTERS view on day 5 but the dialect
    // anchors at the EARLIEST view (day 1) so the day-6 click is out;
    // actor 4 never views
    val rows =
      "1, datetime(2024-01-01), 'view', 1, datetime(2024-01-02), 'click', 1, datetime(2024-01-03), 'purchase', " +
        "2, datetime(2024-01-01), 'view', 2, datetime(2024-01-10), 'click', " +
        "3, datetime(2024-01-01), 'view', 3, datetime(2024-01-05), 'view', 3, datetime(2024-01-06), 'click', " +
        "4, datetime(2024-01-02), 'click'"
    val got = Kql.translate(spark,
      s"datatable(id: long, t: datetime, st: string)[$rows] " +
        "| evaluate funnel_sequence_completion(id, t, datetime(2024-01-01), " +
        "datetime(2024-02-01), st, dynamic(['view', 'click', 'purchase']), 3d)")
      .as[(Int, String, Long, Double)].collect()
    assert(got.map(r => (r._1, r._2, r._3)).toSeq ===
      Seq((1, "view", 3L), (2, "click", 1L), (3, "purchase", 1L)))
    assert(got(0)._4 === 1.0 && got(2)._4 === 1.0)
    assert(math.abs(got(1)._4 - 1.0 / 3.0) < 1e-15)
    // malformed sequence fails loudly
    intercept[IllegalArgumentException] {
      Kql.translate(spark,
        "datatable(id: long, t: datetime, st: string)[1, datetime(2024-01-01), 'view'] " +
          "| evaluate funnel_sequence_completion(id, t, " +
          "datetime(2024-01-01), datetime(2024-02-01), st, dynamic(['view']), 3d)")
    }
  }

  test("activity plugins: counts contract, engagement bounds, loud arg errors") {
    Tables.events(spark, sfDir).createOrReplaceTempView("events_csl")
    val a = Kql.translate(spark,
      "events_csl | evaluate activity_counts_metrics(user_id, ts_ts, " +
        "datetime(2024-01-01), datetime(2024-01-31), 1d) | sort by bin_us asc")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(a.length === 30, "one row per day of January, gaps zero-filled")
    // cumulative distinct: monotone, ends at the corpus-wide distinct
    a.sliding(2).foreach { case Array(p, n) => assert(n._5 >= p._5); case _ => }
    val total = Tables.events(spark, sfDir)
      .filter(col("ts_ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts_ts") < lit("2024-01-31").cast("timestamp"))
      .select("user_id").distinct().count()
    assert(a.last._5 === total, "aggregated_dcount must converge to the corpus distinct")
    assert(a.map(_._4).sum === total, "new_dcount partitions the actor set")
    a.foreach { r => assert(r._3 <= r._2 && r._4 <= r._3) } // dcount<=rows, new<=dcount

    val e = Kql.translate(spark,
      "events_csl | evaluate activity_engagement(user_id, ts_ts, " +
        "datetime(2024-01-01), datetime(2024-01-31), 1d, 7d) | sort by bin_us asc")
      .as[(Long, Long, Long, Double)].collect()
    assert(e.length === 30)
    e.foreach { r =>
      assert(r._3 >= r._2, s"outer window must contain the inner: $r")
      assert(r._4 >= 0.0 && r._4 <= 1.0, s"DAU/WAU ratio out of [0,1]: $r")
    }
    // engagement day k's outer window == distinct actors of days k-6..k
    val pairs = Tables.events(spark, sfDir)
      .select(col("user_id"),
        (col("ts_us") - pmod(col("ts_us"), lit(86400000000L))).as("d"))
      .distinct().as[(Long, Long)].collect()
    val byDay = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    e.foreach { r =>
      val want = (0 until 7).flatMap(k =>
        byDay.getOrElse(r._1 - k * 86400000000L, Set.empty)).toSet.size
      assert(r._3 === want, s"outer dcount mismatch at bin ${r._1}")
    }
    // arg validation is loud
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "events_csl | evaluate activity_engagement(" +
        "user_id, ts_ts, datetime(2024-01-01), datetime(2024-01-31), 1d, 36h)")
    }
    intercept[IllegalArgumentException] {
      Kql.translate(spark, "events_csl | evaluate activity_counts_metrics(user_id, ts_ts)")
    }
  }
}
