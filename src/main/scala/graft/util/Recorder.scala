package graft.util

/** Measurements the code takes while it runs, for harnesses to read after a
  * call returns (ScaleSoak's CSV columns). One value per key: each [[put]]
  * replaces the key's last value, so memory is bounded by the key count,
  * and a harness calls [[clear]] before the run it wants to describe.
  */
object Recorder {

  /** Per-batch wall seconds of the most recent batch chain, in batch order:
    * the committed bodies of an `IngestLoop.run`, the segment merges of a
    * K-batch index chain, or the maintenance steps of st23's fixed-batch
    * probe. An ingest leg's total wall mixes in one-off index builds, so
    * its claim — per-batch cost sized by the batch, flat in corpus size —
    * needs these numbers.
    */
  val BatchWalls = "batch_walls"

  /** Wall seconds of each input file `IngestLoop.land` wrote for the most
    * recent loop. Legs whose input is the whole scaled corpus subtract the
    * total: staging is test harness, not operator cost.
    */
  val StagingSecs = "staging_secs"

  /** Label-propagation rounds of the most recent `Dedup.clusters` call (0 on
    * the driver fast path): round count must stay O(component diameter) as
    * the corpus scales.
    */
  val ClusterRounds = "cluster_rounds"

  private val values = new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()

  def put(key: String, v: Seq[Double]): Unit = values.put(key, v)

  /** The key's last value; empty when nothing was recorded since [[clear]]. */
  def get(key: String): Seq[Double] = Option(values.get(key)).getOrElse(Nil)

  def clear(): Unit = values.clear()
}
