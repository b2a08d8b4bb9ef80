package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The maintained-store contract shared by the dedup index
  * ([[graft.text.Dedup]]), the IVF index and both sides of the k-NN
  * store ([[graft.ann.Similarity]]): append / tombstone-delete /
  * compact over partition directories, with the directory upkeep done
  * through the Hadoop FileSystem API (the reference's partition retention,
  * diamond/load/ParquetDataLoader.scala:1091-1103, and its README's
  * small-file "stitching function"). Each store passes only what
  * differs: its schema, key column, ledger path and partition columns,
  * plus one consolidation step at compaction.
  *
  * Layout. Every append or replayed micro-batch writes (overwrites) its
  * own `dir/batch_id=N` directory, partitioned below by
  * `partitionCols`; `schema` declares every column including the
  * partition columns, so reads skip the parquet footer-inference job.
  *
  * Ledger. A delete commits one `ledgerDir/batch_id=N` directory of
  * dying keys; the canonical read ([[live]]) anti-joins every ledger
  * key. The ledger never lives inside `dir`, where it would break the
  * store's own partition discovery: the dedup and IVF indexes keep it
  * in the sibling `<dir>__tombstones` ([[ledgerBeside]]), the k-NN store
  * in `<store>/tombstones` next to its `index` and `edges` sides.
  *
  * Compaction ([[BatchStore.compact]]) lists the source directories and
  * the ledger batches once, writes each side's surviving rows,
  * consolidated, to `batch_id = min − 1`, then deletes exactly the
  * listed sources and ledger batches (and the ledger directory once it
  * is empty). Compaction ids count DOWN from the seed convention (−1)
  * while stream ids count up from 0, so a target never collides with a
  * future micro-batch or with a directory the rewrite is reading. A
  * delete committed while compaction runs is not listed, so it
  * survives.
  *
  * Crash windows. Targets commit before anything is deleted. A crash
  * after a target write leaves duplicate rows that reads are
  * insensitive to (dedup verdicts aggregate with min / count_distinct,
  * duplicate IVF candidates rank identically, an old k-NN edge
  * directory outranks the consolidated one with identical rows) and that
  * the next compaction's `distinct` absorbs. A crash between the source
  * and ledger deletes leaves ledger keys the compacted store no longer
  * holds; the anti-join is idempotent against them.
  *
  * Idle sink. Run compaction while no append runs: an append or a k-NN
  * recompute reads the earlier batches that compaction deletes.
  *
  * Resurrection. Re-ingesting a tombstoned key would write rows the
  * canonical read hides, so appends fail loud
  * ([[requireNotTombstoned]]) until compaction applies and clears the
  * ledger. Each store passes the ledger rows that apply: the k-NN store
  * only those with `batch_id < N`, because its increments and deletes
  * share one id sequence; the dedup and IVF indexes the whole ledger,
  * because their delete ids are chosen by the caller. */
final case class BatchStore(dir: String, schema: StructType, key: String,
    ledgerDir: String, partitionCols: Seq[String] = Nil) {

  private def fs(spark: SparkSession): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession): Boolean = fs(spark).exists(new Path(dir))

  /** Schema-pinned read of every stored row, `batch_id` included. */
  def read(spark: SparkSession): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** Writes batch `batchId`; a replay overwrites its own directory. */
  def write(rows: DataFrame, batchId: Long): Unit =
    rows.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(s"$dir/batch_id=$batchId")

  /** Commits tombstone batch `batchId`: `ids` holds the `key` column
    * as long. A replay overwrites its own directory; an unknown key is a
    * harmless tombstone. */
  def tombstone(ids: DataFrame, batchId: Long): Unit =
    ids.write.mode("overwrite").parquet(s"$ledgerDir/batch_id=$batchId")

  /** The committed ledger batches, listed once, and their
    * (key, batch_id) rows — `None` when there are none. */
  def ledger(spark: SparkSession): BatchStore.Ledger = {
    val batches = BatchStore.batchDirs(fs(spark), ledgerDir)
    BatchStore.Ledger(batches,
      if (batches.isEmpty) None
      else Some(BatchStore.readDirs(spark, StructType(Seq(
        StructField(key, LongType), StructField("batch_id", LongType))),
        ledgerDir, batches)))
  }

  /** `rows` minus every key of `dead` (broadcast: ledgers hold ids). */
  def without(rows: DataFrame, dead: Option[DataFrame]): DataFrame =
    dead.fold(rows)(d =>
      rows.join(broadcast(d.select(col(key))), Seq(key), "left_anti"))

  /** The canonical read: every stored row minus every tombstoned key. */
  def live(spark: SparkSession): DataFrame =
    without(read(spark), ledger(spark).rows)

  /** Fails when a key of `ids` is in `dead`, the ledger rows that apply
    * to this append. Bounded: limit(1). */
  def requireNotTombstoned(ids: DataFrame, dead: Option[DataFrame],
      caller: String, clearedBy: String): Unit =
    dead.foreach { d =>
      val re = ids.select(col(key)).join(d.select(col(key)), Seq(key),
        "left_semi").limit(1).collect()
      require(re.isEmpty, s"$caller: $key ${re.head.getLong(0)} was " +
        s"tombstoned — run $clearedBy before re-ingesting a deleted id")
    }

  /** Compacts this store alone; see [[BatchStore.compact]]. */
  def compact(spark: SparkSession, caller: String,
      fits: Path => Boolean = _ => true)(
      consolidate: DataFrame => DataFrame): Long =
    BatchStore.compact(spark, caller, Seq(this -> consolidate), fits).head
}

object BatchStore {
  final case class Ledger(batches: Seq[Path], rows: Option[DataFrame])

  /** The sibling ledger directory of the dedup and IVF indexes. */
  def ledgerBeside(dir: String): String = s"${dir}__tombstones"

  private def batchDirs(fs: FileSystem, root: String): Seq[Path] = {
    val p = new Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("batch_id="))
  }

  private def idOf(p: Path): Long = p.getName.stripPrefix("batch_id=").toLong

  private def readDirs(spark: SparkSession, schema: StructType,
      root: String, dirs: Seq[Path]): DataFrame =
    spark.read.schema(schema).option("basePath", root)
      .parquet(dirs.map(_.toString): _*)

  /** One rewrite of a store whose `sides` share one ledger: the source
    * directories and the ledger batches are listed once, here. */
  final class Rewrite(spark: SparkSession, caller: String,
      sides: Seq[BatchStore]) {
    private val fs = sides.head.fs(spark)
    val sources: Seq[Seq[Path]] = sides.map { s =>
      val ds = batchDirs(fs, s.dir)
      require(ds.nonEmpty, s"$caller: ${s.dir} has no batch_id=* " +
        "directories — not a maintained batch store")
      ds
    }
    val ledger: Ledger = sides.head.ledger(spark)
    /** Each side's consolidated batch id. */
    val targets: Seq[Long] = sources.map(_.map(idOf).min - 1)

    /** Side `i`'s listed rows minus the listed ledger keys. */
    def live(i: Int): DataFrame = sides(i).without(
      readDirs(spark, sides(i).schema, sides(i).dir, sources(i)),
      ledger.rows)

    def write(i: Int, rows: DataFrame): Unit = sides(i).write(rows, targets(i))

    /** Deletes the listed sources and ledger batches; call once every
      * target has committed. */
    def commit(): Unit = {
      (sources.flatten ++ ledger.batches).foreach(fs.delete(_, true))
      val l = new Path(sides.head.ledgerDir)
      if (ledger.batches.nonEmpty && fs.listStatus(l).isEmpty)
        fs.delete(l, false)
    }
  }

  /** The compaction skeleton: each side's live rows, passed through its
    * consolidation step (which drops `batch_id`), land in
    * `batch_id = min − 1`, then the sources and the applied ledger go.
    * A store already in one directory per side, with an empty ledger and
    * whose directories `fits`, is left as it is. Returns each side's
    * batch id after the call. */
  def compact(spark: SparkSession, caller: String,
      sides: Seq[(BatchStore, DataFrame => DataFrame)],
      fits: Path => Boolean = _ => true): Seq[Long] = {
    val rw = new Rewrite(spark, caller, sides.map(_._1))
    if (rw.ledger.batches.isEmpty &&
        rw.sources.forall(ds => ds.length == 1 && fits(ds.head)))
      rw.sources.map(ds => idOf(ds.head))
    else {
      sides.indices.foreach(i => rw.write(i, sides(i)._2(rw.live(i))))
      rw.commit()
      rw.targets
    }
  }
}
