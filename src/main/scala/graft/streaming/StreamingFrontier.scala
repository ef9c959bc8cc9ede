package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.frontier.CuckooFilter
import graft.model.Model.FrontierEntry

/** Structured-Streaming form of the frontier admission step (north star:
  * "expressed as mapGroupsWithState + Catalyst expressions").
  *
  * The batch engine keeps its seen-filters in checkpointed snapshot files;
  * in streaming mode the same cuckoo filters live as per-group
  * `GroupState`, keyed by the filter partition (`floorMod(key, P)`), with
  * a processing-time timeout playing the reference's cache TTL
  * (`config.yml:23`, `dns_utils.py:237-241`). Works identically over a
  * bounded batch Dataset (Spark executes `flatMapGroupsWithState` with
  * transient state there), so both engines share one admission semantic.
  */
object StreamingFrontier {

  case class SeenState(filterBytes: Array[Byte], admitted: Long)

  /** Streaming dedup/admission: emit only first-seen entries; state is the
    * per-partition cuckoo filter (O(1)/entry, so state size stays bounded
    * at 10^10-URL scale — ~2.4 bytes/URL spread across P groups).
    */
  def admitStream(entries: Dataset[FrontierEntry], partitions: Int,
      filterCapacity: Long = 1L << 18,
      ttl: Option[String] = None): Dataset[FrontierEntry] = {
    import entries.sparkSession.implicits._
    val timeoutConf =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    entries
      .groupByKey(e => Math.floorMod(e.key, partitions.toLong).toInt)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf) {
        (partition: Int, it: Iterator[FrontierEntry], state: GroupState[SeenState]) =>
          if (state.hasTimedOut) { // politeness-cache expiry: forget and stop
            state.remove()
            Iterator.empty
          } else {
            val filter = state.getOption
              .map(s => CuckooFilter.deserialize(s.filterBytes))
              .getOrElse(CuckooFilter.create(filterCapacity))
            // check-and-insert per element, the batch engine's step:
            // intra-batch duplicates also collapse (first occurrence wins, D1)
            val fresh = it.filter(e => filter.admit(e.key, partition)).toVector
            val admitted = state.getOption.map(_.admitted).getOrElse(0L) + fresh.size
            state.update(SeenState(filter.serialize(), admitted))
            ttl.foreach(state.setTimeoutDuration)
            fresh.iterator
          }
      }
  }
}
