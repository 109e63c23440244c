package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, MapState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, TTLConfig, ValueState}
import graft.Publish
import graft.ingest.Ingest

/** Structured-Streaming formulations of the reference's unbounded-ingest
  * semantics (SURVEY.md §1.3: the reference is HTTP micro-batches —
  * exactly Spark's micro-batch model).
  *
  * Each transform takes a DataFrame that may be batch OR streaming — the
  * same declarative plan serves both (tested against the batch
  * formulations in TimeWindows via MemoryStream). State lives in Spark's
  * checkpointed state store, not an external KV (the Redis registers of
  * src/cache.go become `mapGroupsWithState` state / watermarks).
  */
object StreamOps {

  /** Tumbling hourly counts with a 1-hour watermark — the streaming twin
    * of q_tumbling_window. Late rows beyond the watermark are dropped,
    * which is the reference's `maxTimestamp`-register intent (A8) made
    * precise.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour").as("w"))
      // decimal-routed sum like the batch twin (Ox.dsum): plain double
      // sums are partition-order-dependent and would make the
      // stream-vs-batch comparison flaky at the ulp level
      .agg(count(lit(1)).as("n"), graft.ops.Ox.dsum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("bucket"), col("n"), col("sum_value"))

  /** Streaming dedup by event id within the watermark horizon —
    * reference A5 idempotence for an unbounded stream with bounded state.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  case class Ev(event_id: Long, user_id: Long, ts_us: Long, value: Double)
  case class UserMax(user_id: Long, max_ts_us: Long, n: Long)

  /** Per-user running max event-time — reference A8's high-water-mark
    * register as explicitly managed keyed state (`mapGroupsWithState`).
    * Emits the updated register per user per micro-batch; state is one
    * (long, long) per user — constant memory per key at any scale.
    */
  def runningMax(events: Dataset[Ev]): Dataset[UserMax] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserMax, UserMax](GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Ev], state: GroupState[UserMax]) =>
          val prev = state.getOption.getOrElse(UserMax(user, Long.MinValue, 0L))
          val upd = batch.foldLeft(prev) { (acc, e) =>
            UserMax(user, math.max(acc.max_ts_us, e.ts_us), acc.n + 1)
          }
          state.update(upd)
          upd
      }
  }

  case class NewActor(user_id: Long, day_us: Long)

  /** First-ever-sight detector — the streaming leg of the activity tier
    * (q_kql_activity's `new_dcount` is the batch rollup of exactly this
    * table): one keyed state cell per actor holding the first-seen UTC
    * day; an actor emits ONCE, on the micro-batch that first carries
    * them, and is silent forever after. State is one long per actor —
    * bounded by the actor universe, not the event volume — which is
    * why the adoption curve of a 100 TB/day event stream is maintained
    * incrementally here instead of re-scanning history per report.
    * Late events for an already-seen actor are ignored by design (the
    * batch twin agrees when input is replayed in event-time order; a
    * true out-of-order first-sight would need a retraction channel,
    * which the append-only contract rules out).
    */
  def newActorStream(events: Dataset[Ev]): Dataset[NewActor] = {
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, NewActor](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Ev], state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = batch.map(e => e.ts_us - e.ts_us % dayUs).min
            state.update(first)
            Iterator.single(NewActor(user, first))
          }
      }
  }

  case class Batch(source: String, timeGenerated: Long, maxTimestamp: Long, arrivalSeq: Long)
  case class Registers(source: String, maxTimestamp: Long, lastTimeGenerated: Long)

  /** The reference's two Redis registers (A8 `maxTimestamp`
    * read-compare-set + A9 `lastTimeGenerated` last-writer-wins,
    * src/cache.go + src/main.go:313-322) as a `transformWithState`
    * StatefulProcessor — Spark 4's arbitrary-state API, the modern form
    * of the A12 KV store: typed `ValueState` per key in the checkpointed
    * (RocksDB-capable) state store, updated transactionally with the
    * micro-batch instead of the reference's racy cross-replica
    * read-then-write. Emits the updated registers per source per batch.
    */
  class RegisterProcessor extends StatefulProcessor[String, Batch, Registers] {
    @transient private var maxTs: ValueState[Long] = _
    @transient private var lastGen: ValueState[(Long, Long)] = _ // (arrivalSeq, timeGenerated)

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      maxTs = getHandle.getValueState[Long]("maxTs", Encoders.scalaLong, TTLConfig.NONE)
      lastGen = getHandle.getValueState[(Long, Long)]("lastGen",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)
    }

    override def handleInputRows(source: String, rows: Iterator[Batch],
        timerValues: TimerValues): Iterator[Registers] = {
      var hwm = if (maxTs.exists()) maxTs.get() else 0L
      var last = if (lastGen.exists()) lastGen.get() else (Long.MinValue, 0L)
      rows.foreach { b =>
        hwm = math.max(hwm, b.maxTimestamp) // monotone high-water mark
        if (b.arrivalSeq >= last._1) last = (b.arrivalSeq, b.timeGenerated)
      }
      maxTs.update(hwm)
      lastGen.update(last)
      Iterator.single(Registers(source, hwm, last._2))
    }
  }

  /** `transformWithState` wiring for [[RegisterProcessor]] (Update mode:
    * one refreshed register row per source per micro-batch).
    */
  def registerStream(batches: Dataset[Batch]): Dataset[Registers] = {
    import batches.sparkSession.implicits._
    batches
      .groupByKey(_.source)
      .transformWithState(new RegisterProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class TypedEv(event_id: Long, user_id: Long, event_type: String,
      ts: Long, ts_us: Long, value: Double)
  case class EventRegisters(user_id: Long, event_type: String, n_events: Long,
      max_value: Double, last_value: Double, last_ts: Long, first_ts: Long)
  case class RegState(n: Long, maxValue: Double, lastTsNs: Long, lastId: Long,
      lastValue: Double, lastTsUs: Long, firstTsUs: Long)

  /** The FULL per-key register set of q_register_pipeline — count (A10),
    * running max (A8), last value by (ts, event_id) (A9), watermark
    * bounds (B7) — as one keyed `transformWithState` processor: the
    * streaming form of the composed batch pipeline, so the same state a
    * batch job derives with one window shuffle is maintained
    * incrementally at one ValueState row (7 fields) per live key.
    * Last-writer is decided by the raw nanosecond (ts, event_id) order —
    * identical to the batch window's ordering — so replaying the same
    * events in ANY micro-batch partitioning converges to the identical
    * registers (StreamingSpec asserts equality against the batch plan).
    */
  class EventRegisterProcessor
      extends StatefulProcessor[(Long, String), TypedEv, EventRegisters] {
    @transient private var st: ValueState[RegState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RegState]("regs",
        Encoders.product[RegState], TTLConfig.NONE)

    override def handleInputRows(key: (Long, String), rows: Iterator[TypedEv],
        timerValues: TimerValues): Iterator[EventRegisters] = {
      var s = if (st.exists()) st.get()
        else RegState(0L, Double.MinValue, Long.MinValue, Long.MinValue,
          0.0, 0L, Long.MaxValue)
      rows.foreach { e =>
        val later = e.ts > s.lastTsNs ||
          (e.ts == s.lastTsNs && e.event_id > s.lastId)
        s = RegState(
          s.n + 1,
          math.max(s.maxValue, e.value),
          if (later) e.ts else s.lastTsNs,
          if (later) e.event_id else s.lastId,
          if (later) e.value else s.lastValue,
          if (later) e.ts_us else s.lastTsUs,
          math.min(s.firstTsUs, e.ts_us))
      }
      st.update(s)
      Iterator.single(EventRegisters(key._1, key._2, s.n, s.maxValue,
        s.lastValue, s.lastTsUs, s.firstTsUs))
    }
  }

  /** `transformWithState` wiring for [[EventRegisterProcessor]]. */
  def eventRegisterStream(events: Dataset[TypedEv]): Dataset[EventRegisters] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new EventRegisterProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class ScanStep(user_id: Long, event_id: Long, step: Int,
      hops: Long, bonus: Long)
  case class ScanState(stepIdx: Int, lastTs: Long, lastId: Long)

  /** The STREAMING twin of the KQL declare-state scan (q_kql_scan2,
    * round 13): a per-actor first-match step machine maintained
    * incrementally — step k+1 admits the first event of its type
    * strictly after step k's matched event in (ts, event_id) order,
    * and the declared counters are the SAME compile-time fold the
    * batch translator produces (each step matches once, so per-step
    * state values are literals — the state store carries only
    * (stepIdx, last matched position): 3 fields per live actor,
    * bounded at any scale). Emitted rows are append-only (a matched
    * step never retracts). Contract: event-time-ordered replay
    * converges to the batch scan's exact output (StreamingSpec pins
    * parity with q_kql_scan2 row-for-row); out-of-order arrival
    * follows the arrival-order register contract (A9) — the stream
    * matches on what it has seen, the caller's watermark governs
    * reordering.
    */
  class ScanFunnelProcessor(stepTypes: IndexedSeq[String],
      hops: IndexedSeq[Long], bonus: IndexedSeq[Long])
      extends StatefulProcessor[Long, TypedEv, ScanStep] {
    @transient private var st: ValueState[ScanState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ScanState]("scan",
        Encoders.product[ScanState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypedEv],
        timerValues: TimerValues): Iterator[ScanStep] = {
      var s = if (st.exists()) st.get()
        else ScanState(0, Long.MinValue, Long.MinValue)
      val out = Vector.newBuilder[ScanStep]
      rows.toVector.sortBy(e => (e.ts, e.event_id)).foreach { e =>
        val after = e.ts > s.lastTs ||
          (e.ts == s.lastTs && e.event_id > s.lastId)
        if (s.stepIdx < stepTypes.length && after &&
            e.event_type == stepTypes(s.stepIdx)) {
          out += ScanStep(key, e.event_id, s.stepIdx + 1,
            hops(s.stepIdx), bonus(s.stepIdx))
          s = ScanState(s.stepIdx + 1, e.ts, e.event_id)
        }
      }
      st.update(s)
      out.result().iterator
    }
  }

  /** `transformWithState` wiring for [[ScanFunnelProcessor]] with the
    * q_kql_scan2 step/counter program (signup→click→purchase; hops
    * 1/2/3, bonus 10/7/100).
    */
  def scanFunnelStream(events: Dataset[TypedEv]): Dataset[ScanStep] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(
        new ScanFunnelProcessor(
          Vector("signup", "click", "purchase"),
          Vector(1L, 2L, 3L), Vector(10L, 7L, 100L)),
        TimeMode.None(), OutputMode.Append())
  }

  /** Spark's `round(double, s)`: BigDecimal.valueOf(d) (the
    * shortest-decimal representation via Double.toString) scaled HALF_UP.
    * The PSI and KL monitors replay it exactly so a term landing on a
    * 9th-decimal half-tie rounds identically to the batch query
    * (floor(x*1e8+0.5)/1e8 diverges on those ties).
    */
  private def sparkRound(x: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue

  case class PsiOut(window_day: Long, n: Long, psi: Double,
      stable: Boolean, drifted: Boolean)

  /** STREAMING drift monitor (round 13) — the q_drift_psi statistic
    * maintained incrementally against a BROADCAST reference histogram:
    * per event-time window (UTC day of ts_us), a MapState of unit-bin
    * counts (bounded by the value domain, ~50 entries per live
    * window); every micro-batch folds its rows in and re-emits the
    * window's refreshed PSI (Update mode — a monitor's contract: the
    * latest score per window wins). The PSI formula is byte-identical
    * to the batch query's: add-one smoothing over the UNION of
    * reference and observed bins, per-term 8-dp grid rounding, the
    * 6-dp decimal total, standard 0.1/0.25 verdicts — so a window
    * that has seen all its data reads EXACTLY the batch PSI
    * (StreamingSpec pins the parity). State is O(bins) per window —
    * bounded at any corpus size.
    */
  class PsiMonitorProcessor(ref: Map[Long, Long])
      extends StatefulProcessor[Long, Ev, PsiOut] {
    @transient private var bins: MapState[Long, Long] = _
    private val refN = ref.values.sum

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bins = getHandle.getMapState[Long, Long]("bins",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(windowDay: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[PsiOut] = {
      rows.foreach { e =>
        val b = math.floor(e.value).toLong
        bins.updateValue(b, (if (bins.containsKey(b)) bins.getValue(b) else 0L) + 1L)
      }
      val cur = bins.iterator().map(p => p._1 -> p._2).toMap
      val n = cur.values.sum
      val domain = (ref.keySet ++ cur.keySet).toSeq.sorted
      val nbins = domain.size.toLong
      val total = domain.map { b =>
        val p = (ref.getOrElse(b, 0L) + 1).toDouble / (refN + nbins)
        val q = (cur.getOrElse(b, 0L) + 1).toDouble / (n + nbins)
        BigDecimal(sparkRound((p - q) * math.log(p / q), 8)).setScale(8)
      }.sum
      // batch twin: sum(DECIMAL(18,8)) cast to DOUBLE, THEN round to
      // 6 dp — the decimal→double cast must happen before the final
      // round, same as q_drift_psi's round(cast(sum ...), 6)
      val psi = sparkRound(total.toDouble, 6)
      Iterator.single(PsiOut(windowDay, n, psi, psi < 0.1, psi >= 0.25))
    }
  }

  /** `transformWithState` wiring for [[PsiMonitorProcessor]], keyed by
    * the event's UTC day.
    */
  def psiMonitorStream(events: Dataset[Ev],
      ref: Map[Long, Long]): Dataset[PsiOut] = {
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    events.groupByKey(e => e.ts_us - (((e.ts_us % dayUs) + dayUs) % dayUs))
      .transformWithState(new PsiMonitorProcessor(ref),
        TimeMode.None(), OutputMode.Update())
  }

  case class DocEv(doc_id: Long, source: String, lang: String)
  case class KlOut(source: String, n_docs: Long, kl_nats: Double)

  /** STREAMING KL drift monitor (round 14) — q_drift_kl maintained
    * incrementally, completing the drift battery's streaming trilogy
    * (KL here, KS and PSI beside it): per SOURCE (the key), a MapState
    * of language counts (bounded by the language domain); every
    * micro-batch folds its documents in and re-emits the source's
    * refreshed KL divergence against the BROADCAST corpus language
    * histogram (Update mode). The formula is byte-identical to the
    * batch query's: add-one smoothing over the CORPUS language domain
    * (the batch grid = sources × corpus langs, zero-filled), per-term
    * 8-dp Spark-round (BigDecimal.valueOf HALF_UP — the PSI-monitor
    * rule), the exact-decimal term sum, decimal→double cast before the
    * final 6-dp round — so a source that has seen all its documents
    * reads EXACTLY the batch q_drift_kl row (StreamingSpec pins the
    * parity). State is O(|langs|) per live source.
    */
  class KlMonitorProcessor(ref: Map[String, Long])
      extends StatefulProcessor[String, DocEv, KlOut] {
    @transient private var langs: MapState[String, Long] = _
    private val nn = ref.values.sum
    private val nlangs = ref.size.toLong

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      langs = getHandle.getMapState[String, Long]("langs",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(source: String, rows: Iterator[DocEv],
        timerValues: TimerValues): Iterator[KlOut] = {
      rows.foreach { d =>
        langs.updateValue(d.lang,
          (if (langs.containsKey(d.lang)) langs.getValue(d.lang) else 0L) + 1L)
      }
      val cur = langs.iterator().map(p => p._1 -> p._2).toMap
      val ns = cur.values.sum
      val total = ref.keysIterator.toSeq.sorted.map { l =>
        val p = (cur.getOrElse(l, 0L) + 1).toDouble / (ns + nlangs)
        val q = (ref(l) + 1).toDouble / (nn + nlangs)
        BigDecimal(sparkRound(p * math.log(p / q), 8)).setScale(8)
      }.sum
      Iterator.single(KlOut(source, ns, sparkRound(total.toDouble, 6)))
    }
  }

  /** `transformWithState` wiring for [[KlMonitorProcessor]], keyed by
    * document source.
    */
  def klMonitorStream(docs: Dataset[DocEv],
      ref: Map[String, Long]): Dataset[KlOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.source)
      .transformWithState(new KlMonitorProcessor(ref),
        TimeMode.None(), OutputMode.Update())
  }

  case class KsCell(ca: Long, cb: Long)
  case class KsOut(window_day: Long, n_a: Long, n_b: Long, ks_stat: Double,
      crit_05: Double, reject_h0: Boolean)

  /** STREAMING two-sample KS drift monitor (round 14, VERDICT r13 #6)
    * — q_drift_ks maintained incrementally: per event-time window (UTC
    * day of ts_us), a MapState of fixed-grid bucket counts for BOTH
    * sides (b = floor(value·200), the batch 5e-3 grid — bounded by the
    * value domain whatever the corpus); every micro-batch folds its
    * rows in and re-emits the window's refreshed statistic (Update
    * mode — the monitor contract). The statistic is byte-identical to
    * the batch query's: cumulative integer sums over the sorted grid,
    * ks_num = max |cumA·n_B − cumB·n_A| in exact int64, ONE double
    * division, and the α=0.05 critical value 1.3581·√((n_A+n_B)/
    * (n_A·n_B)) — so a window that has seen all its data reads EXACTLY
    * the batch q_drift_ks row (StreamingSpec pins the parity). A
    * window that has seen only one side has no two-sample statistic
    * yet and emits nothing. State is O(grid buckets) per live window.
    */
  class KsMonitorProcessor(sideA: String, sideB: String)
      extends StatefulProcessor[Long, TypedEv, KsOut] {
    @transient private var bins: MapState[Long, KsCell] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bins = getHandle.getMapState[Long, KsCell]("ksbins",
        Encoders.scalaLong, Encoders.product[KsCell], TTLConfig.NONE)

    override def handleInputRows(windowDay: Long, rows: Iterator[TypedEv],
        timerValues: TimerValues): Iterator[KsOut] = {
      rows.foreach { e =>
        if (e.event_type == sideA || e.event_type == sideB) {
          val b = math.floor(e.value * 200).toLong
          val c = if (bins.containsKey(b)) bins.getValue(b) else KsCell(0L, 0L)
          bins.updateValue(b,
            if (e.event_type == sideA) c.copy(ca = c.ca + 1L)
            else c.copy(cb = c.cb + 1L))
        }
      }
      val cells = bins.iterator().map(p => p._1 -> p._2).toList.sortBy(_._1)
      val na = cells.map(_._2.ca).sum
      val nb = cells.map(_._2.cb).sum
      if (na == 0L || nb == 0L) Iterator.empty
      else {
        var cuma = 0L; var cumb = 0L; var ksNum = 0L
        cells.foreach { case (_, c) =>
          cuma += c.ca; cumb += c.cb
          val v = math.abs(cuma * nb - cumb * na)
          if (v > ksNum) ksNum = v
        }
        // the SAME IEEE expressions as the batch: one division on the
        // exact integer numerator; sqrt is correctly rounded
        val ks = ksNum.toDouble / (na * nb).toDouble
        val crit = 1.3581 * math.sqrt((na + nb).toDouble / (na * nb).toDouble)
        Iterator.single(KsOut(windowDay, na, nb, ks, crit, ks > crit))
      }
    }
  }

  /** `transformWithState` wiring for [[KsMonitorProcessor]], keyed by
    * the event's UTC day (the psiMonitorStream convention).
    */
  def ksMonitorStream(events: Dataset[TypedEv],
      sideA: String = "click", sideB: String = "purchase"): Dataset[KsOut] = {
    import events.sparkSession.implicits._
    val dayUs = 86400000000L
    events.filter(e => e.event_type == sideA || e.event_type == sideB)
      .groupByKey(e => e.ts_us - (((e.ts_us % dayUs) + dayUs) % dayUs))
      .transformWithState(new KsMonitorProcessor(sideA, sideB),
        TimeMode.None(), OutputMode.Update())
  }

  case class BinEv(bin_us: Long, id: Long)
  case class SlideOut(bin_us: Long, count_ : Long, dcount: Long)

  /** STREAMING sliding-window activity counts (round 15, VERDICT r14
    * #7) — q_kql_slidingwin's trailing-window event count and
    * distinct-actor count maintained incrementally, completing the
    * activity family's streaming story. The batch engagement trick
    * carries over verbatim: an event in bin b is window-visible for
    * bins b..b+r−1, so the wiring fans each event out to its ≤r
    * visible bins BEFORE keying, and the processor per OUTPUT bin is
    * then a plain accumulator — a ValueState event counter plus a
    * MapState actor set (bounded by lookback/bin × live actors, the
    * same bound as the batch explode). Update mode: every micro-batch
    * re-emits the bin's refreshed counts, so a bin that has seen all
    * its data reads EXACTLY the batch q_kql_slidingwin row
    * (StreamingSpec pins the parity on the same corpus slice).
    */
  class SlidingCountsProcessor
      extends StatefulProcessor[Long, BinEv, SlideOut] {
    @transient private var actors: MapState[Long, Long] = _
    @transient private var cnt: ValueState[Long] = _
    @transient private var dcnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      actors = getHandle.getMapState[Long, Long]("actors",
        Encoders.scalaLong, Encoders.scalaLong, TTLConfig.NONE)
      cnt = getHandle.getValueState[Long]("cnt",
        Encoders.scalaLong, TTLConfig.NONE)
      dcnt = getHandle.getValueState[Long]("dcnt",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(binUs: Long, rows: Iterator[BinEv],
        timerValues: TimerValues): Iterator[SlideOut] = {
      var c = if (cnt.exists()) cnt.get() else 0L
      // distinct count as its OWN running counter: bumping only on
      // first sight keeps each batch O(batch rows) in state-store I/O
      // — iterating the whole MapState per emission would pay
      // O(accumulated actors) per micro-batch on a hot bin
      var d = if (dcnt.exists()) dcnt.get() else 0L
      rows.foreach { e =>
        c += 1L
        if (!actors.containsKey(e.id)) {
          actors.updateValue(e.id, 1L)
          d += 1L
        }
      }
      cnt.update(c)
      dcnt.update(d)
      Iterator.single(SlideOut(binUs, c, d))
    }
  }

  /** `transformWithState` wiring for [[SlidingCountsProcessor]]:
    * events fan out to their `lookbackBins` visible bins (bin grid
    * anchored at `anchorUs`, the plugin's Start), then key by bin.
    */
  def slidingCountsStream(events: Dataset[Ev], lookbackBins: Int,
      binUs: Long, anchorUs: Long = 0L): Dataset[SlideOut] = {
    import events.sparkSession.implicits._
    events.flatMap { e =>
      val off = e.ts_us - anchorUs
      val b = e.ts_us - (((off % binUs) + binUs) % binUs)
      (0 until lookbackBins).map(k => BinEv(b + k * binUs, e.user_id))
    }.groupByKey(_.bin_us)
      .transformWithState(new SlidingCountsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  case class SessionState(startUs: Long, lastUs: Long, n: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap-based sessionization with explicitly managed state
    * (`flatMapGroupsWithState`, Append): a session closes when the next
    * event for the user arrives more than `gapUs` later; closed sessions
    * are emitted, the open one rides in the state store. This is the
    * custom-state generalization of `session_window` (q_session_window)
    * for logic the built-in can't express (e.g. emitting per-session
    * aggregates with custom close rules). State is 3 longs per active
    * user — bounded at any scale.
    *
    * Events are processed in event-time order within each invocation;
    * cross-batch disorder is the caller's watermark concern (same
    * contract as the reference's arrival-order registers, A9).
    */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[Ev], state: GroupState[SessionState]) =>
          val ordered = batch.toSeq.sortBy(_.ts_us)
          var cur = state.getOption.orNull
          val closed = Seq.newBuilder[SessionOut]
          ordered.foreach { e =>
            cur match {
              case null =>
                cur = SessionState(e.ts_us, e.ts_us, 1L)
              case s if e.ts_us - s.lastUs >= gapUs => // session_window: [start, last+gap)
                closed += SessionOut(user, s.startUs, s.lastUs, s.n)
                cur = SessionState(e.ts_us, e.ts_us, 1L)
              case s =>
                cur = SessionState(s.startUs, e.ts_us, s.n + 1L)
            }
          }
          if (cur != null) state.update(cur)
          closed.result().iterator
      }
  }

  /** The reference's `POST /` loop (SURVEY.md §3.1) as ONE unbounded job:
    * JSON envelope text files in (the file source stands in for the HTTP
    * front door), validated/exploded rows out to the mandated
    * `<source>/YYYY/MM/DD/HH` layout as snappy parquet. Exactly-once
    * comes from source checkpointing + the file-sink commit log — the
    * streaming generalization of the reference's overwrite-by-path
    * idempotence (A5): a replayed micro-batch commits the same output,
    * never duplicates. `source` derives from the caller-controlled file
    * path prefix, exactly the reference's path contract (README.md:5).
    */
  def ingestStream(s: SparkSession, inDir: String, outDir: String,
      checkpoint: String): StreamingQuery = {
    val raw = s.readStream.text(inDir).withColumnRenamed("value", "json")
    // partition by ROW event time (same as the batch sink path): B6
    // time-range pruning must answer queries about when events happened,
    // not when their envelope arrived
    val rows = Ingest.withPartitionColumns(
      Ingest.explodeContent(Ingest.parseEnvelopes(raw)),
      substring_index(col("file"), "/", 1),
      col("timestamp"))
    // per-micro-batch data-quality counters, computed ON the rows as
    // they pass to the sink (observe piggybacks on the batch's own
    // action — no second scan, which is the only affordable shape at
    // scale): row count, event-time bounds (the freshness/watermark-lag
    // signal), and null-timestamp count. Surfaced through
    // StreamingQueryProgress.observedMetrics("ingest_quality") for the
    // monitoring agent the reference's ingest loop logs to stdout.
    rows
      .observe("ingest_quality",
        count(lit(1)).as("rows"),
        min(col("timestamp")).as("min_ts"),
        max(col("timestamp")).as("max_ts"),
        sum(col("timestamp").isNull.cast("long")).as("null_ts"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .option("compression", "snappy")
      .partitionBy(Ingest.partitionColumns: _*)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Error side-output for the same source: envelopes failing reference
    * validation (A2) land in their own parquet sink with the reject
    * reason — the streaming analog of the reference's HTTP 400 path.
    */
  def ingestRejects(s: SparkSession, inDir: String, rejectDir: String,
      checkpoint: String): StreamingQuery = {
    val raw = s.readStream.text(inDir).withColumnRenamed("value", "json")
    Ingest.parseEnvelopes(raw)
      .filter(!col("_valid"))
      .select(
        coalesce(col("id"), lit("")).as("id"),
        coalesce(col("file"), lit("")).as("file"),
        coalesce(col("timeGenerated"), lit(0L)).as("timeGenerated"),
        col("_reject_reason").as("reject_reason"))
      .writeStream
      .format("parquet")
      .option("path", rejectDir)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .start()
  }

  /** Watermarked stream-stream inner join: purchases attributed to the
    * click that preceded them by at most `windowUs` — the canonical
    * funnel/attribution join. BOTH sides carry watermarks and the join
    * condition bounds event-time distance, which is what lets Spark
    * evict buffered rows: each side's state holds only rows inside
    * (watermark − window), so state is bounded by rate × window at any
    * scale, never by stream length. Without the time bound the state
    * store would grow forever — the condition is load-bearing, not a
    * filter.
    *
    * `joinType` "inner" (default) emits attributed purchases only;
    * "leftOuter" ALSO emits every unattributed purchase null-extended —
    * the revenue-completeness variant (every purchase lands in the
    * output exactly once, attributed or not). Outer emission is
    * watermark-driven: a purchase's null row appears only once the
    * watermark proves no in-window click can still arrive, which is the
    * same state-eviction bound as the inner case — state stays
    * rate × window at any scale for both types.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
      windowUs: Long, joinType: String = "inner"): DataFrame = {
    val c = clicks
      .withWatermark("ts_ts", "1 hour")
      .select(col("user_id").as("c_user"), col("ts_ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases
      .withWatermark("ts_ts", "1 hour")
      .select(col("user_id").as("p_user"), col("ts_ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowUs MICROSECOND"),
      joinType)
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"), col("value"))
  }

  /** Stream-static anti-join dedup: incoming documents (a stream) are
    * dropped when their content hash already exists in the STATIC corpus
    * — the incremental form of q_dedup_exact for continuous ingest.
    * The static side is re-planned every micro-batch (it may grow
    * between batches, e.g. as earlier batches land in the corpus), and
    * the stream side carries NO state store at all — unlike
    * `dropDuplicates`, which would hold every hash ever seen in state
    * forever. Dedup-against-history costs one hash anti-join per
    * micro-batch, and the static side is a normal batch scan: Catalyst
    * prunes it to the single hash column, and at 100 TB a bucketed/
    * partitioned corpus layout turns it into a co-located join.
    */
  def dedupAgainstCorpus(docs: DataFrame, corpus: DataFrame): DataFrame = {
    val seen = corpus.select(md5(col("text")).as("h")).distinct()
    docs.withColumn("h", md5(col("text")))
      .join(seen, Seq("h"), "left_anti")
      .drop("h")
  }

  /** Late-data quarantine (dead-letter) sink: rows whose event time
    * (`ts_us`) lags the stream's high-water mark by more than
    * `latenessUs` land in a quarantine directory instead of the main
    * sink. Spark's own watermark silently DROPS late rows in stateful
    * operators; an auditable ingest keeps them — quarantine is where a
    * backfill or a clock-skewed producer is diagnosed rather than
    * silently losing data.
    *
    * Replay determinism (the nearDupSink idempotence lesson): each
    * batch writes to a batchId-derived subdirectory with overwrite, and
    * the high-water mark is a WRITE-ONCE per-batch file
    * (`mark.<batchId>` = max(previous mark, this batch's max ts)) read
    * back as "latest mark with id < current batch" — so a replayed
    * batch sees exactly the mark it saw the first time and splits
    * identically, and its overwrite replaces rather than re-appends.
    * Marks older than batchId − 1 are pruned (only the previous batch
    * can ever replay), so state is O(1) files, not O(batches). Marks are
    * [[graft.Publish.marker]]s on the FS `stateDir` names.
    */
  def lateDataSink(events: DataFrame, mainDir: String, quarantineDir: String,
      stateDir: String, latenessUs: Long, checkpoint: String): StreamingQuery = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(events.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(root)
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val marks = fs.listStatus(root).toSeq.map(_.getPath).flatMap { p =>
          Option(p.getName).filter(_.startsWith("mark."))
            .flatMap(_.stripPrefix("mark.").toLongOption).map((_, p))
        }
        val mark = marks.filter(_._1 < id).sortBy(-_._1).headOption
          .flatMap { case (_, p) => Publish.read(fs, p) }
          .map(_.toLong).getOrElse(Long.MinValue)
        val b = batch.localCheckpoint(true)
        val cut = if (mark == Long.MinValue) Long.MinValue else mark - latenessUs
        b.filter(col("ts_us") >= cut)
          .write.mode("overwrite").parquet(s"$mainDir/batch=$id")
        b.filter(col("ts_us") < cut)
          .write.mode("overwrite").parquet(s"$quarantineDir/batch=$id")
        val bmax = b.agg(max(col("ts_us"))).head().get(0)
        val newMark = math.max(mark,
          if (bmax == null) Long.MinValue else bmax.asInstanceOf[Long])
        // write-once: a replayed batch must NOT advance its own mark
        try Publish.marker(fs, new Path(root, s"mark.$id"), newMark.toString)
        catch { case _: java.nio.file.FileAlreadyExistsException => () }
        // only batch id-1 can ever replay; older marks are dead
        marks.filter(_._1 < id - 1).foreach { case (_, p) => fs.delete(p, false) }
        ()
      }
      .start()
  }

  /** Static MinHash/LSH index over a (doc_id, text) corpus — build ONCE,
    * then every incoming micro-batch probes it. The index is the banded
    * signature table (band, bucket → signature): bucket collisions are
    * the only candidates a probe ever verifies, so the per-batch cost is
    * bound by collision rate, never corpus size (the q_dedup_minhash
    * blocking, turned into an incremental-ingest gate).
    */
  def minhashIndex(corpus: DataFrame): DataFrame =
    graft.ops.Text.minhashBandTable(corpus)
      .select(col("band"), col("bucket"), col("sig").as("corpus_sig"))

  /** One micro-batch of candidate docs filtered against the static
    * index: a doc is dropped when ANY bucket collision verifies at
    * estimated Jaccard ≥ minJac. Batch-mode semantics (runs inside
    * foreachBatch): band join → per-lane verify → anti-join survivors.
    * Docs too short to carry a 3-gram (no signature) pass through — the
    * near-dup gate only speaks for docs it can fingerprint.
    */
  def nearDupFilterBatch(batch: DataFrame, corpusIdx: DataFrame,
      minJac: Double): DataFrame = {
    val probe = graft.ops.Text.minhashBandTable(batch)
    val dupIds = probe.join(corpusIdx, Seq("band", "bucket"))
      .filter(graft.ops.Text.estJaccard(col("sig"), col("corpus_sig")) >= minJac)
      .select("doc_id").distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti")
  }

  /** One micro-batch filtered against the index AND against itself:
    * a doc is dropped when a bucket collision verifies at est-Jaccard
    * ≥ minJac against the index, or against any LOWER-doc_id doc of the
    * same frame. The lowest id of each within-frame near-dup group is
    * the canonical survivor — the same keep-lowest convention the batch
    * dedup family uses (q_dup_rewrite's cluster canonical), chosen over
    * "drop only vs surviving lower ids" because it is one shuffle round
    * with no sequential chain dependence. Consequence (documented, not
    * hidden): a doc similar ONLY to an index-dropped batch-mate is
    * dropped here but would survive a strict sequential replay.
    */
  def nearDupFilterSelf(batch: DataFrame, idx: DataFrame,
      minJac: Double): DataFrame = {
    val probe = graft.ops.Text.minhashBandTable(batch)
    val vsIdx = probe.join(idx, Seq("band", "bucket"))
      .filter(graft.ops.Text.estJaccard(col("sig"), col("corpus_sig")) >= minJac)
      .select("doc_id")
    val vsSelf = probe.as("a").join(probe.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") > col("b.doc_id"))
      .filter(graft.ops.Text.estJaccard(col("a.sig"), col("b.sig")) >= minJac)
      .select(col("a.doc_id").as("doc_id"))
    batch.join(vsIdx.union(vsSelf).distinct(), Seq("doc_id"), "left_anti")
  }

  /** Streaming near-dup dedup against a static corpus — the incremental
    * form of fuzzy-dedup a continuously-ingesting training pipeline
    * needs: new docs land only if nothing ≥ minJac-similar already
    * exists in the reference corpus. `foreachBatch` gives each
    * micro-batch full batch semantics (the band join + verify +
    * anti-join above); the index is computed once outside the loop and
    * reused every batch. Exact duplicates are a special case (estimated
    * Jaccard 1.0), so this strictly subsumes [[dedupAgainstCorpus]] for
    * fingerprintable docs.
    *
    * Survivors land in a PER-BATCH subdirectory `bid=<batchId>` written
    * with overwrite — a micro-batch replayed after a crash between the
    * write and the checkpoint commit overwrites its own partition
    * instead of re-appending, so the gate can never emit duplicate rows
    * (a plain append sink would). Readers see one hive-partitioned
    * table at `outDir` (bid is just a partition column).
    *
    * This variant probes the STATIC index only: two near-copies
    * arriving in different micro-batches both land. Use
    * [[nearDupSelfSink]] for the self-updating gate.
    */
  def nearDupSink(docs: DataFrame, corpusIdx: DataFrame, outDir: String,
      checkpoint: String, minJac: Double = 0.5)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        nearDupFilterBatch(batch, corpusIdx, minJac)
          .write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
      }
      .start()

  /** The SELF-UPDATING near-dup gate: the stream dedups against the
    * seed corpus AND against itself. Each micro-batch probes
    * corpus index ∪ all prior batches' survivor index, self-dedups
    * within the batch ([[nearDupFilterSelf]]), then appends its own
    * survivors' band rows to the accumulated index — so a doc admitted
    * in batch 1 blocks its near-copy in batch 3, which the static-index
    * gate cannot do. This is the reference's continuous-ingest loop
    * (src/main.go:248-329, every batch lands in the same corpus the
    * next batch is judged against) with near-dup semantics.
    *
    * Idempotence under replay: BOTH sinks write per-batch partitions
    * `bid=<batchId>` with overwrite, and the prior-index read takes
    * only `bid < batchId` — a replayed batch never probes the partial
    * index rows its crashed attempt may have written, so it recomputes
    * the identical survivor set and overwrites both partitions.
    *
    * Scale: the accumulated index grows with ADMITTED docs only
    * (bounded by unique content, not stream length), is partitioned by
    * batch, and each probe is still a (band, bucket) equi-join — cost
    * per batch is collision rate × index size.
    *
    * Compaction (`compactEvery` > 0): a long stream otherwise grows one
    * `bid=` directory per micro-batch forever — the small-files problem
    * the batch layout solves with compactPartitions. Every
    * `compactEvery` batches, batch b folds ALL generations `bid < b`
    * into the single FRESH partition `bid = -b` (distinct band rows —
    * the index is a membership set, so the fold is set-semantics-exact),
    * publishes it with an atomic `_compacted_<b>` marker create, and
    * only THEN deletes the superseded directories. Negative bids keep
    * the visibility rule intact (-b < b, so a replay of batch b and
    * every later batch see the folded rows) while never colliding with
    * a real batch partition (real bids are ≥ 0) or a prior fold (-b is
    * unique per compaction). Replay idempotence, crash window by crash
    * window:
    *   - only the LAST batch can ever replay (earlier batches are
    *     checkpoint-committed before b starts);
    *   - crash BEFORE the marker create: the originals are all still
    *     present (deletes happen only after the marker), so the replay
    *     re-derives the identical distinct set and overwrites the
    *     at-most-partially-committed `bid = -b` — never the sole copy
    *     of anything;
    *   - crash AFTER the marker create: the replay sees the marker,
    *     SKIPS the fold (so a fully-committed fold — by then possibly
    *     the only copy of the superseded rows — is never overwritten,
    *     since Spark's overwrite deletes before it commits), and
    *     re-runs only the idempotent delete of superseded dirs;
    *   - folded rows coexisting with not-yet-deleted originals only
    *     duplicate probe matches (the verify → distinct → anti-join
    *     chain is set-semantic).
    */
  def nearDupSelfSink(docs: DataFrame, corpusIdx: DataFrame, outDir: String,
      idxDir: String, checkpoint: String, minJac: Double = 0.5,
      compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val idxRoot = new org.apache.hadoop.fs.Path(idxDir)
        val fs = idxRoot.getFileSystem(s.sparkContext.hadoopConfiguration)
        val prior =
          if (fs.exists(idxRoot) && fs.listStatus(idxRoot).nonEmpty)
            s.read.parquet(idxDir).filter(col("bid") < batchId)
              .select("band", "bucket", "corpus_sig")
          else corpusIdx.limit(0)
        val idx = corpusIdx.unionByName(prior)
        val survivors = nearDupFilterSelf(batch, idx, minJac).localCheckpoint()
        survivors.write.mode("overwrite").parquet(s"$outDir/bid=$batchId")
        graft.ops.Text.minhashBandTable(survivors)
          .select(col("band"), col("bucket"), col("sig").as("corpus_sig"))
          .write.mode("overwrite").parquet(s"$idxDir/bid=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0)
          compactGenerations(s, idxDir, batchId,
            Seq("band", "bucket", "corpus_sig"))
      }
      .start()

  /** The crash-safe generation fold shared by [[nearDupSelfSink]] and
    * [[vectorUpsertSink]]: fold all `bid < batchId` rows (distinct —
    * the tables are sets of identical-on-replay rows) into the FRESH
    * partition `bid = -batchId`, publish it with one
    * `_compacted_<batchId>` [[graft.Publish.marker]], and only then delete
    * superseded dirs and stale markers. A replay that sees the marker
    * SKIPS the fold, so a committed fold — by then possibly the sole
    * copy — is never overwritten mid-write (Spark's overwrite deletes
    * before it commits).
    */
  private def compactGenerations(s: SparkSession, root: String,
      batchId: Long, cols: Seq[String]): Unit = {
    val rootP = new org.apache.hadoop.fs.Path(root)
    val fs = rootP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return
    val marker = new org.apache.hadoop.fs.Path(rootP, s"_compacted_$batchId")
    if (!fs.exists(marker)) {
      val folded = s.read.parquet(root).filter(col("bid") < batchId)
        .select(cols.map(col): _*)
        .distinct().localCheckpoint()
      folded.write.mode("overwrite").parquet(s"$root/bid=-$batchId")
      Publish.marker(fs, marker, "")
    }
    fs.listStatus(rootP).map(_.getPath)
      .filter { p =>
        val n = p.getName
        (n.startsWith("bid=") &&
          scala.util.Try(n.stripPrefix("bid=").toLong).toOption
            .exists(v => v < batchId && v != -batchId)) ||
        (n.startsWith("_compacted_") &&
          scala.util.Try(n.stripPrefix("_compacted_").toLong).toOption
            .exists(_ < batchId))
      }
      .foreach(fs.delete(_, true))
  }

  /** STREAMING vector-index maintenance (round 11) — the continuous-
    * ingest loop applied to the ANN index, closing the last static
    * piece of the serving stack: micro-batches of new vectors are
    * add-with-assign-encoded onto the FROZEN persisted quantizer
    * ([[graft.ops.Vectors.encodeOnto]] — deterministic argmins over
    * the q_ann_persist tables, no Lloyd pass at ingest time) and their
    * code/assignment rows land as per-batch generations
    * `codes_inc/bid=<b>` and `assign_inc/bid=<b>` beside the frozen
    * tables — the same generation layout (and the same replay story)
    * as the near-dup index: a replayed batch re-derives the identical
    * rows and overwrites its own partitions, so the sink is
    * exactly-once at the row level. Serving reads
    * frozen ∪ generations ([[loadVectorIndex]]); an upserted vector is
    * searchable at the next query with NO index rebuild. Refit policy
    * is the q_ann_upsert contract (cell-skew drift or new/total
    * fraction); `compactEvery` folds the `bid=` generations through
    * the same crash-safe marker machinery as the near-dup index
    * ([[compactGenerations]]).
    */
  def vectorUpsertSink(vecs: DataFrame, idxDir: String,
      checkpoint: String, compactEvery: Int = 0): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val c2 = s.read.parquet(s"$idxDir/coarse")
        val pcb2 = s.read.parquet(s"$idxDir/codebooks")
        val (asgnN, codesN) = graft.ops.Vectors.encodeOnto(c2, pcb2, batch)
        codesN.write.mode("overwrite").parquet(s"$idxDir/codes_inc/bid=$batchId")
        asgnN.write.mode("overwrite").parquet(s"$idxDir/assign_inc/bid=$batchId")
        if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
          compactGenerations(s, s"$idxDir/codes_inc", batchId,
            Seq("vec_id", "m", "code"))
          compactGenerations(s, s"$idxDir/assign_inc", batchId,
            Seq("vec_id", "cl"))
        }
      }
      .start()

  /** Load a persisted IVF-PQ index PLUS its streamed upsert
    * generations: (coarse, codebooks, codes ∪ codes_inc,
    * assign ∪ assign_inc) — what a serving tier reads after
    * [[vectorUpsertSink]] has been appending.
    *
    * Crash-window consistency: between a compaction's marker create
    * and the completion of its deletes, folded rows COEXIST with
    * not-yet-deleted originals. The near-dup probes are set-semantic
    * and shrug; ADC scoring SUMS per (vec_id, m) rows, so a duplicate
    * would double-count a subspace distance. The reader therefore
    * resolves the live generation set from the highest marker B:
    * valid bids are exactly {-B} ∪ [B, ∞) — superseded leftovers
    * (< B, ≠ -B) are filtered out, whatever the deletes' progress.
    */
  def loadVectorIndex(s: SparkSession, idxDir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    def withInc(base: DataFrame, sub: String): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$idxDir/$sub")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
        val markers = fs.listStatus(p).map(_.getPath.getName)
          .filter(_.startsWith("_compacted_"))
          .flatMap(n => scala.util.Try(
            n.stripPrefix("_compacted_").toLong).toOption)
        val inc0 = s.read.parquet(p.toString)
        // negative-bid folds are only valid once their marker exists:
        // if the FIRST compaction crashes between its bid=-B commit and
        // the marker create, no marker is on disk yet and the folded
        // rows would coexist with the not-yet-deleted originals — so
        // with no marker, only non-negative generations are live
        val inc =
          if (markers.isEmpty) inc0.filter(col("bid") >= 0)
          else {
            val b = markers.max
            inc0.filter(col("bid") === -b || col("bid") >= b)
          }
        base.unionByName(inc.select(base.columns.map(col).toSeq: _*))
      } else base
    }
    (s.read.parquet(s"$idxDir/coarse"),
      s.read.parquet(s"$idxDir/codebooks"),
      withInc(s.read.parquet(s"$idxDir/codes"), "codes_inc"),
      withInc(s.read.parquet(s"$idxDir/assign"), "assign_inc"))
  }

  /** Streaming upsert sink via `foreachBatch` — the lakehouse MERGE loop:
    * each micro-batch folds into a keyed parquet state table as
    * "latest row per (user_id, event_type) wins", i.e. q_changelog_compact
    * run incrementally. `foreachBatch` is the escape hatch for sinks
    * Structured Streaming has no native writer for (MERGE targets,
    * JDBC upserts); the batch id makes retries idempotent at the row
    * level here because the merge itself is idempotent (same batch
    * merged twice = same table). The state table is read+rewritten per
    * batch at this scale; at 100 TB the same fold targets a format with
    * real MERGE (the compaction logic — ranked window over the natural
    * key — is unchanged).
    *
    * State layout and commit protocol (object-store safe, multi-writer
    * safe): `stateDir` is a ROOT holding immutable WRITER-UNIQUE data
    * directories `v<N>-<token>` plus commit markers `_committed_<N>`
    * whose CONTENT names the data directory they publish. The live
    * state is the directory named by the HIGHEST marker; a data
    * directory no marker names is an uncommitted orphan and invisible.
    * Publishing is one create-once marker ([[graft.Publish.marker]]) —
    * never a directory rename — so visibility does not depend on rename
    * atomicity. The token makes the data path unique PER ATTEMPT: two
    * writers racing to version N+1 each write their own `v<N+1>-<token>`
    * and contend only on the marker create — the loser's exception
    * aborts its batch with the winner's part files untouched (a shared
    * `v<N+1>` path would let the loser's overwrite clobber data the
    * winner already committed).
    * Crash anywhere:
    *   - before/while writing `v<N+1>-<t>` → no marker, the dir is an
    *     invisible orphan a later successful batch collects;
    *   - after the marker create → that dir is live, superseded
    *     versions are garbage the next successful batch collects;
    *   - during GC → stale versions linger harmlessly (max-marker wins);
    *   - between marker create and content close (HDFS-only window; an
    *     object-store PUT lands whole) → readers skip the empty marker
    *     and resolve the previous version until the content lands.
    * GC works off the directory listing already in hand — one pass over
    * what EXISTS, never a version-counter sweep that would issue
    * O(all versions ever) delete RPCs per batch on an object store.
    * Readers resolve the live version with [[upsertState]].
    */
  def upsertSink(updates: DataFrame, stateDir: String,
      checkpoint: String, retainVersions: Int = 1): StreamingQuery =
    updates.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertMerge(batch, stateDir, retainVersions)
      }
      .start()

  /** One merge round of the [[upsertSink]] protocol: resolve the live
    * version, fold the batch in, stage to a writer-unique directory,
    * publish via the marker create. Package-private so the concurrency
    * spec can race real writers through the real code path; throws
    * (batch aborts) on a lost marker race.
    */
  private[graft] def upsertMerge(batch: DataFrame, stateDir: String,
      retainVersions: Int = 1): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.hadoop.fs.Path
    val s = batch.sparkSession
    val root = new Path(stateDir)
    // resolve the FS from the STATE PATH's scheme, not the default FS
    // — FileSystem.get(conf) would throw "Wrong FS" for any
    // s3a://-style stateDir on a file:// default
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (cur, curDir) = currentState(fs, root)
    // "no state yet" is exactly cur < 0 — any OTHER read failure
    // (corrupt footer, transient FS fault) must propagate: a
    // catch-all here would silently replace the whole state table
    // with batch-only content
    val curDf =
      if (cur >= 0) s.read.parquet(curDir.toString)
      else s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    // CDC contract: an optional `op` column carries tombstones — a
    // batch row with op='D' is a MERGE DELETE: if it is the LATEST row
    // for its key, the key leaves the state entirely (a later insert
    // resurrects it — the tombstone itself is not stored, so there is
    // nothing for the resurrection to fight). Rows without an op
    // column (or with op null) are upserts, so pure-upsert callers and
    // pre-CDC state tables fold unchanged (allowMissingColumns aligns
    // the schemas, absent op arriving as null).
    val hasOps = curDf.columns.contains("op") || batch.columns.contains("op")
    val folded = curDf.unionByName(batch, allowMissingColumns = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val merged =
      if (hasOps) folded.filter(coalesce(col("op"), lit("U")) =!= "D")
      else folded
    val next = cur + 1
    // writer-unique staging: a concurrent attempt at the same
    // version writes somewhere else entirely
    val dataDir = new Path(root, s"v$next-${Publish.token()}")
    merged.write.mode("overwrite").parquet(dataDir.toString)
    // the atomic publish: exactly ONE writer's marker create succeeds —
    // a lost race aborts THIS batch (the streaming engine retries it
    // against the winner's state) instead of silently double-committing;
    // the content names the data dir this marker publishes
    Publish.marker(fs, new Path(root, s"_committed_$next"), dataDir.getName)
    // best-effort GC of superseded versions (crash here is benign):
    // one listing, delete only entries that exist and are settled.
    // `retainVersions` is the time-travel retention window: the newest
    // R committed versions (marker + marker-referenced dir) survive,
    // so [[upsertStateAt]] can read them — the lakehouse MERGE story's
    // other half. R = 1 (the default) is the pre-retention behavior:
    // only the version just published survives, with zero extra marker
    // reads. Lost-race staging dirs of RETAINED versions still go (a
    // kept version's only live dir is the one its marker names), and a
    // staging dir for version next+1 (a concurrent writer already past
    // our commit) is deliberately left alone.
    val keepFloor = next - math.max(1, retainVersions)
    val entries = fs.listStatus(root)
    val referenced: Set[String] = ((keepFloor + 1) to next).flatMap { v =>
      if (v == next) Some(dataDir.getName)
      else Publish.read(fs, new Path(root, s"_committed_$v"))
    }.toSet
    entries.foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("_committed_")) {
        if (nm.stripPrefix("_committed_").toLongOption.exists(_ <= keepFloor))
          fs.delete(st.getPath, false)
      } else if (nm.startsWith("v")) {
        val ver = nm.drop(1).takeWhile(_.isDigit)
        if (ver.nonEmpty && ver.toLong <= next && !referenced.contains(nm))
          fs.delete(st.getPath, true)
      }
    }
    ()
  }

  /** Resolve the live (version, dataDir) under an upsert state root:
    * the highest marker whose content names an existing directory.
    * A marker whose content has not landed yet (the HDFS create→close
    * window) or whose directory is missing is skipped and the previous
    * version resolves instead — readers never observe a half-published
    * commit. Returns (-1, null) when nothing has ever committed.
    */
  private def currentState(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): (Long, org.apache.hadoop.fs.Path) = {
    import org.apache.hadoop.fs.Path
    if (!fs.exists(root)) return (-1L, null)
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    val versions = names.filter(_.startsWith("_committed_"))
      .flatMap(_.stripPrefix("_committed_").toLongOption).toSeq.sorted.reverse
    versions.iterator.flatMap { v =>
      val m = new Path(root, s"_committed_$v")
      val c = Publish.read(fs, m)
      // listed but gone: a newer commit collected it, so this listing is
      // stale — fail (the batch retries) rather than resolve an older one
      if (c.isEmpty && !fs.exists(m)) throw new java.io.FileNotFoundException(m.toString)
      c.filter(names.contains).map(d => (v, new Path(root, d)))
    }.nextOption().getOrElse((-1L, null))
  }

  /** Read the live version of an [[upsertSink]] state root (the highest
    * fully-published version; uncommitted orphans and in-flight markers
    * are invisible). Throws if no version has ever committed.
    */
  def upsertState(s: SparkSession, stateDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val (cur, dir) = currentState(fs, root)
    require(cur >= 0, s"no committed upsert state under $stateDir")
    s.read.parquet(dir.toString)
  }

  /** Time-travel read: the state table exactly as `version` published
    * it — the lakehouse VERSION AS OF contract on top of the sink's
    * immutable version dirs + commit markers (nothing is recomputed;
    * the historical dir is simply still there). Only versions inside
    * the sink's `retainVersions` window are readable — older ones were
    * GC'd — and the error says so rather than resolving to the wrong
    * snapshot.
    */
  def upsertStateAt(s: SparkSession, stateDir: String,
      version: Long): DataFrame = {
    import org.apache.hadoop.fs.Path
    val root = new Path(stateDir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val marker = new Path(root, s"_committed_$version")
    require(fs.exists(marker),
      s"version $version of $stateDir is not available " +
        "(never committed, or outside the sink's retainVersions window)")
    val dir = Publish.read(fs, marker).map(new Path(root, _)).filter(fs.exists)
    require(dir.isDefined,
      s"version $version marker of $stateDir references a missing data dir")
    s.read.parquet(dir.get.toString)
  }

  /** Drive a streaming DataFrame to completion against a memory sink and
    * return the materialized result — test harness for the transforms
    * above (batch parquet in, streaming semantics out).
    */
  def runToMemory(s: SparkSession, stream: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = stream.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    s.table(name)
  }
}
