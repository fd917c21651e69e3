package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The reference's record types (`topic_processor_test.go:23-41`). */
case class Character(id: String, name: String, wikipediaUrl: String)
case class Fiction(id: String, fictionType: String, title: String,
                   characterIds: Seq[String])
case class FictionAndCharacters(id: String, fictionType: String, title: String,
                                characters: Seq[Character])

/** One input message of the characters⋈fictions topology: exactly one of
  * the two sides, tagged with the partition it would land on (kasper
  * requires co-partitioned input topics, `README.md:37-39`).
  */
case class JoinInput(partition: Int, character: Option[Character], fiction: Option[Fiction])

/** Partition-scoped state of the topology: both sides materialized plus
  * the character→fictions reverse index (`topic_processor_test.go:94-133`).
  */
case class JoinState(characters: Map[String, Character],
                     fictions: Map[String, Fiction],
                     charToFictions: Map[String, Set[String]])

/** Stateful streaming operators: kasper's `Process()`+`Store` patterns
  * re-expressed on `flatMapGroupsWithState`, where Spark owns
  * checkpointing, recovery and state placement (vs kasper's external
  * Redis/ES stores, `redis.go`/`elasticsearch.go`).
  *
  * Each operator has one implementation. The `flatMapGroupsWithState`
  * operators run on either state store (the default HDFS-backed one or
  * RocksDB). [[cdcGateTws]], [[linearAttributionGateTws]] and
  * [[chunkDedupGate]] exist only on `transformWithState`, which runs
  * only on RocksDB: call [[graft.core.Graft.useRocksDbStateStore]]
  * before starting a query that uses one of them.
  */
object StatefulOps {

  case class KeyCount(key: String, count: Long)

  /** KQ-6 streaming: per-key running count (the word-count example,
    * `examples/word_count_example.go:47-67` — store-backed `count+1`).
    * Emits the updated count for every key touched in a micro-batch.
    */
  def runningCount(keys: Dataset[String]): Dataset[KeyCount] = {
    import keys.sparkSession.implicits._
    keys.groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          val c = state.getOption.getOrElse(0L) + rows.size
          state.update(c)
          Iterator(KeyCount(key, c))
      }
  }

  /** Running count with state TTL — the documented semantic improvement
    * over the reference's unbounded in-memory stores (`map.go:9-13`,
    * SURVEY §7.4): keys idle longer than `ttl` have their state dropped
    * (and counting restarts from zero if the key reappears). Use for
    * high-cardinality keyspaces where most keys go cold.
    */
  def runningCountWithTTL(keys: Dataset[String], ttl: String): Dataset[KeyCount] = {
    import keys.sparkSession.implicits._
    keys.groupByKey(identity)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.ProcessingTimeTimeout) {
        (key: String, rows: Iterator[String], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val c = state.getOption.getOrElse(0L) + rows.size
            state.update(c)
            state.setTimeoutDuration(ttl)
            Iterator(KeyCount(key, c))
          }
      }
  }

  /** A marketing event on the streaming attribution rail: event-time in
    * ticks (micros in production), a tie-break id, channel/type, value.
    */
  case class AttrEvent(uid: Long, ts: Long, tie: Long, etype: String,
                       value: Double)

  /** One per-channel credit emitted at a conversion. */
  case class ChannelCredit(uid: Long, channel: String, nTouches: Long,
                           creditMicro: Long)

  /** Streaming LINEAR multi-touch attribution — the real-time sibling of
    * [[graft.ops.RelOps.linearAttribution]] (q228) on `transformWithState`:
    * per user, bounded session state (last event tick + per-channel touch
    * counts — O(#channels), never the touch list), sessions roll on the
    * gap, and each conversion emits one [[ChannelCredit]] per channel
    * seen so far in the session, with the batch rail's exact arithmetic
    * (`cvμ = value` at DECIMAL(18,6) HALF_UP · 10⁶; credit =
    * `(cvμ · n_ch) div n_touch`, floor).
    *
    * Contract: credits the CAUSAL PREFIX at each conversion (a stream
    * cannot see the touches a batch window attributes retroactively), so
    * emissions aggregate to exactly the batch table whenever conversions
    * close their sessions — the spec's emission-equality claim. Events
    * are ordered (ts, tie) within a micro-batch; cross-batch stragglers
    * land in the session open at arrival, the same first-seen posture as
    * the other gates.
    */
  def linearAttributionGateTws(events: Dataset[AttrEvent], convType: String,
                               gapTicks: Long): Dataset[ChannelCredit] = {
    require(gapTicks > 0, s"gapTicks must be positive, got $gapTicks")
    import events.sparkSession.implicits._
    events.groupByKey(_.uid)
      .transformWithState(new LinearAttributionProcessor(convType, gapTicks),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Per-user attribution session state: last event tick + per-channel
    * touch counts (string-keyed map — the Avro state encoder's safe
    * shape, the round-8 lesson).
    */
  case class AttrSessState(lastTs: Long, counts: Map[String, Long])

  private final class LinearAttributionProcessor(convType: String, gapTicks: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, AttrEvent, ChannelCredit] {
    @transient private var sess: org.apache.spark.sql.streaming.ValueState[AttrSessState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[AttrSessState]("sess",
        org.apache.spark.sql.Encoders.product[AttrSessState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[AttrEvent],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ChannelCredit] = {
      var (lastTs, counts) =
        if (sess.exists()) { val s = sess.get(); (s.lastTs, s.counts) }
        else (Long.MinValue, Map.empty[String, Long])
      val out = Vector.newBuilder[ChannelCredit]
      for (e <- rows.toVector.sortBy(e => (e.ts, e.tie))) {
        if (lastTs != Long.MinValue && e.ts - lastTs >= gapTicks)
          counts = Map.empty
        if (e.etype == convType) {
          // the batch rail's cvμ: DECIMAL(18,6) HALF_UP, then ·10⁶
          val cvu = BigDecimal(e.value)
            .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP)
            .*(BigDecimal(1000000L)).toLongExact
          val ntouch = counts.valuesIterator.sum
          if (cvu > 0 && ntouch > 0)
            counts.toSeq.sortBy(_._1).foreach { case (ch, nt) =>
              out += ChannelCredit(uid, ch, nt, cvu * nt / ntouch)
            }
        } else counts = counts.updated(e.etype, counts.getOrElse(e.etype, 0L) + 1L)
        // a cross-batch straggler (older ts than the stored clock) must
        // not move the session clock BACKWARD: the next in-order event
        // would then re-measure the gap from the straggler and could
        // spuriously roll a session the batch rail keeps whole
        lastTs = math.max(lastTs, e.ts)
      }
      sess.update(AttrSessState(lastTs, counts))
      out.result().iterator
    }
  }

  /** Intermediate record of the two-stage scalable fictions join: either
    * a fiction's metadata passthrough or one resolved (fiction, position,
    * character) triple from the character-keyed stage.
    */
  case class StageRecord(fictionId: String, kind: String, pos: Int,
                         character: Option[Character], fiction: Option[Fiction])

  /** Stage-1 keyed event: a character upsert or a (fiction, pos)
    * reference to the character `cid`.
    */
  case class CharEvent(cid: String, character: Option[Character],
                       fictionId: Option[String], pos: Int)

  /** Per-character state of stage 1: the latest character value and the
    * (fictionId, pos) references that need it.
    */
  case class CharState(character: Option[Character], refs: Seq[(String, Int)])

  /** Per-fiction state of stage 2: metadata plus resolved positions. */
  case class FictionAsmState(fiction: Option[Fiction], resolved: Map[Int, Character])

  /** Stage 1 of the scalable (entity-keyed) fictions⋈characters join:
    * state keyed by CHARACTER id, so no co-partitioning precondition and
    * state bounded per character (the character value + the references
    * to it), unlike [[fictionsJoin]]'s partition-blob state. Emits an
    * append-only stream of [[StageRecord]]s: fiction metadata passes
    * through stateless; character arrivals/updates re-emit a resolved
    * triple for every registered reference; new references resolve
    * immediately when the character is already known.
    *
    * This is the kasper pattern of chaining topic processors — stage 1
    * and stage 2 ([[assembleFictions]]) are separate streaming queries
    * connected by an intermediate store (file sink → file source chains
    * exactly-once via the sink's metadata log).
    */
  def resolveCharacters(input: Dataset[JoinInput]): Dataset[StageRecord] = {
    import input.sparkSession.implicits._
    val meta = input.flatMap(j =>
      j.fiction.map(f => StageRecord(f.id, "meta", -1, None, Some(f))))
    val keyed = input.flatMap {
      case JoinInput(_, Some(c), _) => Seq(CharEvent(c.id, Some(c), None, -1))
      case JoinInput(_, _, Some(f)) =>
        f.characterIds.zipWithIndex.map { case (cid, pos) =>
          CharEvent(cid, None, Some(f.id), pos)
        }
      case _ => Nil
    }
    val resolved = keyed.groupByKey(_.cid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CharEvent], state: GroupState[CharState]) =>
          var st = state.getOption.getOrElse(CharState(None, Nil))
          val out = scala.collection.mutable.ArrayBuffer.empty[StageRecord]
          rows.foreach {
            case CharEvent(_, Some(c), _, _) =>
              st = st.copy(character = Some(c))
              // character update re-emits every fiction referencing it
              st.refs.foreach { case (fid, pos) =>
                out += StageRecord(fid, "resolved", pos, Some(c), None)
              }
            case CharEvent(_, _, Some(fid), pos) =>
              val ref = (fid, pos)
              if (!st.refs.contains(ref)) st = st.copy(refs = st.refs :+ ref)
              st.character.foreach(c =>
                out += StageRecord(fid, "resolved", pos, Some(c), None))
            case _ => ()
          }
          state.update(st)
          out.iterator
      }
    meta.unionByName(resolved)
  }

  /** Stage 2: assembly keyed by FICTION id — state bounded per fiction
    * (metadata + resolved positions). Emits the completed
    * [[FictionAndCharacters]] whenever every characterIds position is
    * resolved with the matching character id (emit suppression), and
    * re-emits on character updates arriving from stage 1. A fiction
    * metadata update drops resolved entries that no longer match its
    * characterIds before re-checking completeness.
    */
  def assembleFictions(stage: Dataset[StageRecord]): Dataset[FictionAndCharacters] = {
    import stage.sparkSession.implicits._
    stage.groupByKey(_.fictionId)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[StageRecord], state: GroupState[FictionAsmState]) =>
          var st = state.getOption.getOrElse(FictionAsmState(None, Map.empty))
          var dirty = false
          rows.foreach { r =>
            if (r.kind == "meta") {
              val f = r.fiction.get
              val valid = st.resolved.filter { case (pos, c) =>
                pos < f.characterIds.length && f.characterIds(pos) == c.id
              }
              st = FictionAsmState(Some(f), valid); dirty = true
            } else r.character.foreach { c =>
              // accept only if consistent with (current) metadata order
              val ok = st.fiction.forall(f =>
                r.pos < f.characterIds.length && f.characterIds(r.pos) == c.id)
              if (ok) { st = st.copy(resolved = st.resolved + (r.pos -> c)); dirty = true }
            }
          }
          state.update(st)
          val complete = for {
            f <- st.fiction
            if dirty && f.characterIds.indices.forall(p =>
              st.resolved.get(p).exists(_.id == f.characterIds(p)))
          } yield FictionAndCharacters(f.id, f.fictionType, f.title,
            f.characterIds.indices.map(st.resolved).toSeq)
          complete.iterator
      }
  }

  /** Streaming exact dedup — the incremental form of
    * [[graft.dedup.Dedup.dedupExact]]: the first row per key within the
    * watermark horizon survives, later duplicates are dropped, and key
    * state is evicted once the watermark passes (bounded state — the
    * property kasper's unbounded store-based dedup lacked). Built on
    * `dropDuplicatesWithinWatermark`, so state eviction is owned by the
    * engine, not application code.
    */
  def dedupStream[T](ds: Dataset[T], eventTimeCol: String, watermark: String,
                     keyCols: String*): Dataset[T] = {
    val wm = ds.withWatermark(eventTimeCol, watermark)
    // zero key columns = dedup on the whole row, matching
    // dropDuplicatesWithinWatermark's no-arg contract
    if (keyCols.isEmpty) wm.dropDuplicatesWithinWatermark()
    else wm.dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  case class BudgetDoc(domain: String, id: Long, tokens: Long)
  case class Admitted(domain: String, id: Long, tokens: Long, cumTokens: Long)

  /** Streaming token-budget gate — [[graft.ops.CorpusOps.budgetFill]]'s
    * incremental sibling: per-domain running sum of ADMITTED tokens in
    * keyed state; a document is admitted iff it still fits
    * (cum + tokens ≤ budget). Where the batch form cuts a priority-
    * ordered prefix, the stream cannot sort the future, so admission is
    * arrival-order GREEDY with skip: a too-big document is rejected but
    * a later smaller one may still be admitted — the budget fills
    * monotonically and `cumTokens` never exceeds `budget`. Within a
    * micro-batch, per-domain order is the batch iterator order (matching
    * the reference's serial per-partition loop semantics); the state is
    * one Long per domain, so the gate scales to any domain cardinality.
    */
  def budgetGate(docs: Dataset[BudgetDoc], budget: Long): Dataset[Admitted] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.domain)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (domain: String, rows: Iterator[BudgetDoc], state: GroupState[Long]) =>
          var cum = state.getOption.getOrElse(0L)
          // materialize before updating state — the iterator is lazy
          val admitted = rows.flatMap { d =>
            if (d.tokens >= 0 && cum + d.tokens <= budget) {
              cum += d.tokens
              Some(Admitted(domain, d.id, d.tokens, cum))
            } else None
          }.toVector
          state.update(cum)
          admitted.iterator
      }
  }

  case class Scd2Event(key: Long, ts: Long, attr: String)
  case class Scd2Row(key: Long, attr: String, validFrom: Long,
                     validTo: Option[Long])

  /** Streaming SCD2 maintenance — [[graft.ops.RelOps.scd2]]'s
    * incremental sibling (the CDC shape: a dimension table maintained
    * from a change stream). State per key is the OPEN interval
    * (attr, since); an attribute change closes it (emitting the closed
    * row) and opens a new one. Every batch re-emits the key's current
    * open row, so an upsert sink keyed on (key, validFrom) converges to
    * exactly the batch scd2 output — proven in the spec. Same in-order
    * per-key delivery assumption as [[funnelGate]]; within a batch rows
    * sort by (ts, attr).
    */
  def scd2Gate(events: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Scd2Event], state: GroupState[(String, Long)]) =>
          var cur = state.getOption.orNull
          val closed = Vector.newBuilder[Scd2Row]
          for (e <- rows.toVector.sortBy(e => (e.ts, e.attr))) {
            if (cur == null) cur = (e.attr, e.ts)
            else if (e.attr != cur._1) {
              closed += Scd2Row(key, cur._1, cur._2, Some(e.ts))
              cur = (e.attr, e.ts)
            } // same attr: consecutive duplicate, collapse
          }
          state.update(cur)
          closed.result().iterator ++
            Iterator(Scd2Row(key, cur._1, cur._2, None))
      }
  }

  case class FunnelEvent(uid: Long, etype: String, ts: Long)
  case class FunnelProgress(uid: Long, stage: Int, stageTs: Long)

  /** Streaming funnel — [[graft.ops.RelOps.funnel]]'s incremental
    * sibling: per-user state is (stage reached, that stage's anchor
    * ts); an event advances the funnel iff it is the next step and
    * falls within `within` of the previous stage's anchor. Rows are
    * sorted by (ts, type) inside each micro-batch, so the gate equals
    * the batch funnel whenever each user's events arrive in event-time
    * order ACROSS batches (the in-order delivery kasper's per-partition
    * consumers guarantee; a late cross-batch event cannot retroactively
    * become an earlier anchor — documented divergence, same trade as
    * [[budgetGate]]'s greedy admission). State is one (int, long) per
    * user; emits each user's progress whenever it advances.
    */
  def funnelGate(events: Dataset[FunnelEvent], steps: Seq[String],
                 within: Long): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import events.sparkSession.implicits._
    events.groupByKey(_.uid)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelProgress]) =>
          var st = state.getOption.getOrElse(FunnelProgress(uid, 0, 0L))
          val before = st.stage
          for (e <- rows.toVector.sortBy(e => (e.ts, e.etype))
               if st.stage < steps.length) {
            val qualifies = e.etype == steps(st.stage) &&
              (st.stage == 0 ||
                (e.ts >= st.stageTs && e.ts <= st.stageTs + within))
            if (qualifies) st = FunnelProgress(uid, st.stage + 1, e.ts)
          }
          state.update(st)
          if (st.stage > before) Iterator(st) else Iterator.empty
      }
  }

  case class TransEvent(uid: Long, etype: String, ts: Long, tie: Long)
  case class Transition(fromType: String, toType: String)

  /** Streaming transition extraction —
    * [[graft.ops.RelOps.transitionCounts]]'s incremental sibling: per
    * key, the state is just the LAST event type seen; each micro-batch
    * emits the adjacent (from, to) bigrams including the one spanning
    * the batch boundary, so a downstream count aggregation converges to
    * the batch transition matrix. Same in-order per-key delivery
    * assumption as [[funnelGate]] (kasper's per-partition consumers);
    * within a batch rows sort by (ts, tie). State is one string per
    * key.
    */
  def transitionGate(events: Dataset[TransEvent]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.uid)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[TransEvent], state: GroupState[String]) =>
          var last = state.getOption.orNull
          val out = Vector.newBuilder[Transition]
          for (e <- rows.toVector.sortBy(e => (e.ts, e.tie))) {
            if (last != null) out += Transition(last, e.etype)
            last = e.etype
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  case class Keyed[V](key: String, ts: Long, value: V)

  /** KQ-11 streaming: last-write-wins upsert per key (store `Put`
    * overwrite, `map.go:37-40`), emitting the winning row per batch.
    * Ties on ts resolve to the later element in batch order — kasper's
    * serial-loop semantics.
    */
  def latestByKey[V: Encoder](rows: Dataset[Keyed[V]]): Dataset[Keyed[V]] = {
    implicit val keyedEnc: Encoder[Keyed[V]] = rows.encoder
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[Keyed[V]], state: GroupState[Keyed[V]]) =>
          var best = state.getOption.orNull
          it.foreach { r => if (best == null || r.ts >= best.ts) best = r }
          state.update(best)
          Iterator(best)
      }
  }

  /** One CDC op: I/U carry the payload, D tombstones the key; `seq` is
    * the last-writer-wins order (ties resolve to the later element in
    * batch order, the [[latestByKey]] rule).
    */
  case class CdcOp(key: String, seq: Long, op: String, payload: String)

  /** The current image change a [[cdcGateTws]] batch emits for a key:
    * `deleted = true` means the key's newest op is a tombstone.
    */
  case class CdcImage(key: String, seq: Long, payload: String, deleted: Boolean)

  /** Streaming CDC gate on `transformWithState` — the incremental
    * sibling of [[graft.ops.RelOps.cdcApply]]: per key, a typed
    * `ValueState` holds the newest op ever seen (RocksDB in
    * production); each batch emits the key's CURRENT image — payload
    * for I/U winners, a tombstone row for D — exactly when the batch
    * touched the key and changed or reasserted its image. Feeding the
    * emissions into any keyed sink (delete on tombstone, upsert
    * otherwise) maintains the same table `cdcApply` compacts in batch
    * (spec-proven prefix equality). Late ops (seq older than state)
    * are ignored — the out-of-order delivery rule a log-compacted
    * topic needs.
    */
  def cdcGateTws(ops: Dataset[CdcOp]): Dataset[CdcImage] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.key)
      .transformWithState(new CdcGateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  private final class CdcGateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, CdcOp, CdcImage] {
    @transient private var newest: org.apache.spark.sql.streaming.ValueState[CdcOp] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      newest = getHandle.getValueState[CdcOp]("newest",
        org.apache.spark.sql.Encoders.product[CdcOp],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[CdcOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[CdcImage] = {
      var b = if (newest.exists()) newest.get() else null
      rows.foreach { r => if (b == null || r.seq >= b.seq) b = r }
      newest.update(b)
      Iterator(CdcImage(key, b.seq, b.payload, b.op.equalsIgnoreCase("D")))
    }
  }

  /** KQ-8: the characters⋈fictions incremental join with emit
    * suppression, exactly the reference topology
    * (`topic_processor_test.go:76-155`):
    *  - both sides upserted into partition-local state,
    *  - reverse index re-emits every fiction affected by a character
    *    update,
    *  - a fiction is emitted only when ALL its characterIds resolve
    *    (`createOutgoingMessage`, `:135-155`), characters ordered by the
    *    fiction's characterIds order.
    *
    * State is keyed by the co-partitioning key, mirroring kasper's
    * partition-scoped stores (`topic_processor.go:137-143`): one
    * `GroupState` value holds that partition's character/fiction maps
    * and reverse index, exactly as each kasper partition processor owns
    * its partition's stores.
    *
    * Scale contract (same as the reference's): the topology is
    * partition-local, so a fiction and ALL the characters it references
    * must share a partition — kasper's co-partitioned-topics requirement
    * (`README.md:37-39`; its own integration test pins everything to
    * partition 0). Under that precondition state is bounded by partition
    * size and scales horizontally with the partition count
    * (StreamingSpec's multi-partition test). When entities cannot be
    * co-located, this operator is the wrong tool at scale — use the
    * declarative batch rewrite ([[graft.ops.FictionOps.joinBatch]],
    * shuffle-based, no co-location requirement), or the two-stage
    * entity-keyed streaming form ([[resolveCharacters]] →
    * [[assembleFictions]], state bounded per character/fiction, chained
    * like kasper chains topic processors; golden-parity tested).
    */
  def fictionsJoin(input: Dataset[JoinInput]): Dataset[FictionAndCharacters] = {
    import input.sparkSession.implicits._
    input.groupByKey(_.partition)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Int, msgs: Iterator[JoinInput], state: GroupState[JoinState]) =>
          var st = state.getOption.getOrElse(JoinState(Map.empty, Map.empty, Map.empty))
          val out = scala.collection.mutable.LinkedHashMap.empty[String, FictionAndCharacters]

          def tryEmit(f: Fiction): Unit = {
            val resolved = f.characterIds.flatMap(st.characters.get)
            if (resolved.size == f.characterIds.size)
              out(f.id) = FictionAndCharacters(f.id, f.fictionType, f.title, resolved)
          }

          msgs.foreach {
            case JoinInput(_, Some(c), _) =>
              st = st.copy(characters = st.characters + (c.id -> c))
              st.charToFictions.getOrElse(c.id, Set.empty)
                .flatMap(st.fictions.get).toSeq.sortBy(_.id).foreach(tryEmit)
            case JoinInput(_, _, Some(f)) =>
              val rev = f.characterIds.foldLeft(st.charToFictions) { (m, cid) =>
                m + (cid -> (m.getOrElse(cid, Set.empty) + f.id))
              }
              st = st.copy(fictions = st.fictions + (f.id -> f), charToFictions = rev)
              tryEmit(f)
            case _ => ()
          }
          state.update(st)
          out.values.iterator
      }
  }

  case class ChunkRow(id: Long, chunkIdx: Long, chunkText: String)

  /** Streaming first-seen chunk gate —
    * [[graft.ops.CorpusOps.chunkDedup]]'s incremental sibling: keyed by
    * chunk TEXT, a chunk passes iff its text has never been seen before
    * (one `ValueState[Boolean]` per distinct chunk on the RocksDB
    * store); within a batch the winner is the minimum (id, chunkIdx) —
    * the batch form's tie-break — and later batches can only be
    * suppressed by earlier ones, so feeding batches in id order emits
    * exactly the batch winners (spec-proven). The ingest-time shape of
    * corpus chunk dedup: a new crawl snapshot streams through the gate
    * and only never-seen spans reach the training corpus.
    */
  def chunkDedupGate(chunks: Dataset[ChunkRow]): Dataset[ChunkRow] = {
    import chunks.sparkSession.implicits._
    chunks.groupByKey(_.chunkText)
      .transformWithState(new ChunkGateProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  private final class ChunkGateProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ChunkRow, ChunkRow] {
    @transient private var seen: org.apache.spark.sql.streaming.ValueState[Boolean] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen",
        org.apache.spark.sql.Encoders.scalaBoolean,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(text: String, rows: Iterator[ChunkRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[ChunkRow] = {
      if (seen.exists() && seen.get()) Iterator.empty
      else {
        seen.update(true)
        var best: ChunkRow = null
        rows.foreach { r =>
          if (best == null || r.id < best.id ||
            (r.id == best.id && r.chunkIdx < best.chunkIdx)) best = r
        }
        Iterator(best)
      }
    }
  }}
