package graft

package object streaming {

  /** Test-only: the name VecDedupSyncSpec's crash-between fixtures
    * write batches through. Nothing in the library uses it; it goes
    * once that spec calls [[DedupSink.writeBatch]] directly. Unlike
    * the old `PairsStore.writeBatch`, whose default canonicalized and
    * max-merged the pairs, [[DedupSink.writeBatch]] writes the pairs
    * as given, so callers must pass canonical pairs (as
    * `Dedup.incrementalVecPairs` returns them).
    */
  private[streaming] val PairsStore: DedupSink.type = DedupSink
}
