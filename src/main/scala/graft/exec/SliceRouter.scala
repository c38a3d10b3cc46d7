package graft.exec

/** Ownership routing for slice-mode ingestion — the reference's
  * subscriber-side shard routing (ownership-routed ingestion,
  * /root/reference/subscriber/common/job/streaming_processor.go:48-71 +
  * controller/handlers/assignment.go: a datanode only ever ingests
  * shards it owns). Without it, a PK UPDATE ingested at a NON-owner
  * member splits the row: the non-owner serves the updated version from
  * its delta overlay while the day's owner keeps serving the archived
  * version — the same event id answered twice, with conflicting values,
  * until the non-owner's drain lands and the owner syncs.
  *
  * `ownerOf` is [[SliceRebalance.extendedOwner]] over the PUBLISHED
  * assignment (deterministic on every member for any day, including days
  * that postdate the assignment); `urlOf` resolves a slice's first FRESH
  * registered member from the topology registry. With no published
  * assignment every day routes to self (the pre-rebalance deployment).
  */
final class SliceRouter(topologyDir: String, membersDir: String,
    val selfSlice: String, staleMillis: Long = 15000,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val topo = new BrokerTopology(membersDir, staleMillis,
    cacheMillis = 500, clock = clock)

  /** The slice that serves `day` under the current published assignment;
    * None when no assignment exists (route to self).
    */
  def ownerOf(day: String): Option[String] =
    SliceRebalance.read(topologyDir)
      .flatMap(a => SliceRebalance.extendedOwner(a, day))

  /** First fresh registered member of `slice` (sorted by member id for
    * determinism); None when the slice has no live member — the caller
    * fails the batch loudly rather than applying rows it doesn't own.
    */
  def urlOf(slice: String): Option[String] = {
    val now = clock()
    topo.list()
      .filter(m => m.slice == slice && now - m.heartbeat <= staleMillis)
      .sortBy(_.id).headOption.map(_.url)
  }
}
