package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-key LWW state over an unbounded stream, emitting a record only
  * when it BEATS the incumbent version for its key — the streaming
  * form of the engine's core merge (SURVEY.md A1), built on
  * `flatMapGroupsWithState`.
  *
  * Where StreamSync.foreachBatch probes the destination store with
  * each micro-batch's ids and stages the winners as a delta (right
  * for a columnar dest that is also read as a table), this keeps the
  * per-key max in the state store: O(changed keys) per batch, no
  * store probe, and downstream consumers see exactly
  * the winning updates — the reference's "409 the losers" behavior
  * (pyCassElastic.py:340-343) as a dataflow operator.
  *
  * Payload travels as JSON (`to_json(struct(*))` upstream): the state
  * layout stays schema-stable while documents evolve — mirroring the
  * reference's schemaless ES `_source` envelope.
  */
object StatefulLww {

  /** Generic versioned record; `payload` is an opaque (JSON) blob. */
  final case class KeyedVersioned(id: String, version: Long, payload: String)

  /** Winners of the stream so far, emitted incrementally. */
  def latestUpdates(ds: Dataset[KeyedVersioned]): Dataset[KeyedVersioned] = {
    implicit val enc = Encoders.product[KeyedVersioned]
    implicit val state = Encoders.scalaLong
    ds.groupByKey(_.id)(Encoders.STRING)
      .flatMapGroupsWithState[Long, KeyedVersioned](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[KeyedVersioned], s: GroupState[Long]) =>
          val incumbent = if (s.exists) s.get else Long.MinValue
          // newest of this batch for the key; ties keep the incumbent
          // (strict >), matching ES external-version semantics
          val best = rows.maxBy(r => (r.version, r.payload))
          if (best.version > incumbent) {
            s.update(best.version)
            Iterator.single(best)
          } else Iterator.empty
      }
  }

  /** Same contract on Spark 4's `transformWithState` — the current
    * arbitrary-state API (typed `ValueState` handles, per-state TTL,
    * timers, RocksDB-backed changelog checkpointing). Semantics are
    * identical to [[latestUpdates]]; state here can additionally carry
    * a TTL so abandoned keys age out of the store — the knob an
    * unbounded 100 TB keyspace needs and `flatMapGroupsWithState`
    * lacks (its timeouts fire per-key callbacks instead).
    */
  final class LwwProcessor(ttl: TTLConfig)
      extends StatefulProcessor[String, KeyedVersioned, KeyedVersioned] {
    @transient private var ver: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      ver = getHandle.getValueState[Long]("ver", Encoders.scalaLong, ttl)

    override def handleInputRows(key: String, rows: Iterator[KeyedVersioned],
        timers: TimerValues): Iterator[KeyedVersioned] = {
      val incumbent = if (ver.exists()) ver.get() else Long.MinValue
      val best = rows.maxBy(r => (r.version, r.payload))
      if (best.version > incumbent) { // ties keep the incumbent (ES 409 rule)
        ver.update(best.version)
        Iterator.single(best)
      } else Iterator.empty
    }
  }

  /** [[latestUpdates]] via `transformWithState`; `ttl` bounds state for
    * keyspaces that never revisit old keys (TTLConfig.NONE to keep all).
    */
  def latestUpdatesTws(ds: Dataset[KeyedVersioned],
      ttl: TTLConfig = TTLConfig.NONE): Dataset[KeyedVersioned] = {
    implicit val enc = Encoders.product[KeyedVersioned]
    // No timers registered here, so TimeMode.None unless a real TTL
    // needs the processing-time clock — ProcessingTime makes the
    // engine run continuous no-data micro-batches just to check
    // timers, pure churn when nothing expires.
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    ds.groupByKey(_.id)(Encoders.STRING)
      .transformWithState(new LwwProcessor(ttl), timeMode, OutputMode.Update())
  }
}
