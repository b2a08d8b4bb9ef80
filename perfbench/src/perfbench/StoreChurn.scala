package perfbench

/** The maintained stores under one traffic mix: each cycle is one
  * [[DailyLoad]] cycle (an SCD2 load with its reads, compaction and
  * retention) followed by one [[VectorStoreChurn]] cycle (increments,
  * reads, tombstone deletes and compactions on the k-NN store, the IVF
  * index and the dedup index). Both keep their own stores and gates. */
final class StoreChurn extends Workload {
  private val scd2 = new DailyLoad
  private val vectors = new VectorStoreChurn

  def setup(ctx: Ctx, dir: String): Unit = {
    scd2.setup(ctx, s"$dir/scd2")
    vectors.setup(ctx, s"$dir/vectors")
  }
  def warmUp(ctx: Ctx): Unit = { scd2.warmUp(ctx); vectors.warmUp(ctx) }
  def cycle(ctx: Ctx, i: Int): Unit = {
    scd2.cycle(ctx, i)
    vectors.cycle(ctx, i)
  }
  def check(ctx: Ctx): Seq[String] = scd2.check(ctx) ++ vectors.check(ctx)
  def corrupt(): Unit = vectors.corrupt()

  override def stores: Seq[String] = scd2.stores ++ vectors.stores
  override def freshLiveBytes(ctx: Ctx, scratch: String): Long =
    scd2.freshLiveBytes(ctx, s"$scratch/scd2") +
      vectors.freshLiveBytes(ctx, s"$scratch/vectors")
  override def liveAndStoredRows(ctx: Ctx): (Long, Long) = {
    val (a, b) = scd2.liveAndStoredRows(ctx)
    val (c, d) = vectors.liveAndStoredRows(ctx)
    (a + c, b + d)
  }
  override def close(): Unit = { scd2.close(); vectors.close() }
}
