package graft.exec

/** Per-query capture of the shared archive's drain-marker state — the
  * second half of the broker's fan-out consistency protocol (the first
  * being the assignment version, [[SliceRebalance.beginVersionCapture]]).
  *
  * The hazard it closes: a [[graft.ingest.Backfill]] (or day-partition
  * compaction) commit swaps day directories in the shared archive while
  * queries are reading it. Within ONE scatter wave, the moved day's OLD
  * owner decides whether to defer its stranded delta rows by reading the
  * shared copy's PKs, and the NEW owner lists the shared archive to serve
  * the day — two independent reads. If the commit lands between them, the
  * rows are served by neither member (undercount) or both (double count)
  * in that wave. No per-member discipline can close a cross-process read
  * skew; the broker must detect and retry it, exactly as it already does
  * for a rebalance publish landing mid-wave.
  *
  * Protocol (a seqlock over the archive):
  *   - writers announce a swap with [[graft.ingest.DrainMarker.beginRewrite]]
  *     (inflight flag) BEFORE the first rename and clear it with the
  *     post-swap `bump` (seq+1);
  *   - every serving-side read of a shared archive [[note]]s the marker
  *     it observed under the slice-served table whose archive it read
  *     (the serving catalog already reads it per query; the
  *     stranded-delta anti-join reads it before listing shared PKs), and
  *     the HTTP layer re-reads the marker of each [[tables]] entry once
  *     more AFTER the query body ran;
  *   - [[collect]] folds the observations into one token: the per-table
  *     seqs when every table's observations agreed and none was
  *     inflight, else TORN. Epochs are per archive, like readers of
  *     Oracle In-Memory on Active Data Guard take a consistent point per
  *     redo stream: a second table's archive moving never tears a query
  *     that did not read it;
  *   - the member surfaces the token as `X-Graft-Archive-Epoch`; the
  *     broker retries any wave with a torn token or mixed epochs.
  *
  * Thread-local is sound for the same reason the assignment-version
  * capture's is: compile and collect run on the member's HTTP handler
  * thread, one query per thread.
  */
object ArchiveEpoch {

  /** The wire value for "this query's archive reads may straddle a swap". */
  val Torn = "torn"

  private final class State {
    val seqs = scala.collection.mutable.Map.empty[String, Set[Long]]
    var torn = false
  }

  private val tl = new ThreadLocal[State]

  def begin(): Unit = tl.set(new State)

  /** Record one marker observed on `table`'s shared archive. The key is
    * the table name, which every member agrees on (a mount path can
    * differ between hosts). An inflight marker means a writer is inside
    * its swap window right now; a corrupt one reads as seq 0 (all
    * members see the same file, so corruption is consistent across a
    * wave and must not fail queries that still serve exactly — the
    * conservative all-from-shared path stays exact).
    */
  def note(table: String, m: graft.ingest.DrainMarker.Marker): Unit =
    Option(tl.get).foreach { st =>
      if (m.inflight) st.torn = true
      st.seqs(table) = st.seqs.getOrElse(table, Set.empty[Long]) + m.seq
    }

  /** The tables whose shared archive this thread's query read. */
  def tables(): Set[String] =
    Option(tl.get).map(_.seqs.keySet.toSet).getOrElse(Set.empty)

  /** The epoch token for the response header: None when the query never
    * read a shared archive (non-slice deployments, tables outside slice
    * serving); [[Torn]] when any observation was inflight or two
    * observations of one table disagreed (a swap committed between
    * them); else the seqs in table-name order.
    */
  def collect(): Option[String] =
    Option(tl.get).flatMap { st =>
      if (st.seqs.isEmpty) None
      else if (st.torn || st.seqs.values.exists(_.size > 1)) Some(Torn)
      else Some(st.seqs.toSeq.sortBy(_._1).map(_._2.head).mkString(","))
    }

  def end(): Unit = tl.remove()
}
