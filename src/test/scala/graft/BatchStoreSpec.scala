package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions.col

import graft.ann.Similarity
import graft.streaming.StreamingEvents
import graft.text.Dedup

/** The local file system under the `racefs` scheme. Once armed, the
  * first directory it creates under the armed store commits one more
  * ledger batch (a rename of a staged batch) — a delete that lands while
  * compaction writes its target. */
class LedgerRaceFs extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = URI.create("racefs:///")
}) {
  override def getScheme: String = "racefs"
  override def mkdirs(f: Path): Boolean = {
    LedgerRaceFs.fire(f)
    super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    LedgerRaceFs.fire(f)
    super.mkdirs(f, permission)
  }
}

object LedgerRaceFs {
  private var armed: Option[(String, String, String)] = None

  /** On the first mkdirs under `storeDir`, moves `staged` to `batch`. */
  def arm(storeDir: String, staged: String, batch: String): Unit =
    synchronized { armed = Some((storeDir, staged, batch)) }

  def fired: Boolean = synchronized(armed.isEmpty)

  private def fire(f: Path): Unit = synchronized {
    armed.foreach { case (dir, staged, batch) =>
      if (f.toUri.getPath.startsWith(s"$dir/")) {
        armed = None
        Files.move(Paths.get(staged), Paths.get(batch))
      }
    }
  }
}

class BatchStoreSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.racefs.impl", classOf[LedgerRaceFs].getName)

  private val Dim = 8
  /** 200 vectors around 4 planted directions; one centroid on each. */
  private lazy val emb = (0L until 200L).map(i => (i, Seq.tabulate(Dim)(d =>
      if (d == i % 4) 1.0 else (i * 7 + d) % 11 / 100.0)))
    .toDF("vec_id", "embedding")
  private lazy val cents = emb.filter(col("vec_id") < 4)

  /** One maintained store: `seed` appends two batches and commits one
    * tombstone batch (id 2), `ids` reads the live keys. */
  private case class Kind(name: String, key: String,
      ledger: String => String, seed: String => Unit,
      compact: String => Unit, ids: String => Set[Long])

  private val kinds = Seq(
    Kind("dedup index", "doc_id", d => s"${d}__tombstones",
      d => {
        val docs = Seq(1L -> "the cat sat on the mat and then slept all day",
          2L -> "totally novel content with fresh tokens here now",
          3L -> "another quite different document about distant topics")
          .toDF("doc_id", "text")
        for (b <- 0L to 1L)
          Dedup.buildDedupIndex(docs.filter(col("doc_id") % 2 === b),
            "doc_id", "text").write.parquet(s"$d/batch_id=$b")
        Dedup.deleteFromDedupIndex(spark, d, Seq(3L).toDF("id"), "id", 2L)
      },
      d => { Dedup.compactDedupIndex(spark, d); () },
      d => Dedup.readDedupIndex(spark, d).select("doc_id").as[Long]
        .collect().toSet),
    Kind("IVF index", "vec_id", d => s"${d}__tombstones",
      d => {
        for (b <- 0L to 1L)
          StreamingEvents.ivfIndexBatch(emb.filter(col("vec_id") % 2 === b),
            b, "vec_id", "embedding", cents, Dim, d)
        Similarity.deleteFromIvfIndex(spark, d,
          emb.filter(col("vec_id") % 9 === 2), "vec_id", 2L)
      },
      d => { Similarity.compactIvfIndex(spark, d); () },
      d => Similarity.readIvfIndex(spark, d).select("vec_id").as[Long]
        .collect().toSet),
    Kind("k-NN store", "vec_id", d => s"$d/tombstones",
      d => {
        for (b <- 0L to 1L)
          Similarity.knnGraphIncrement(emb.filter(col("vec_id") % 2 === b),
            "vec_id", "embedding", cents, Dim, 3, d, b)
        Similarity.knnGraphDelete(emb.filter(col("vec_id") % 9 === 2),
          "vec_id", d, 2L, 3)
      },
      d => { Similarity.compactKnnStore(spark, d); () },
      d => StreamingEvents.knnGraphView(spark, d).select("vec_id").as[Long]
        .collect().toSet))

  for (k <- kinds)
    it should s"keep a delete committed while the ${k.name} compacts" in {
      val tmp = Files.createTempDirectory("graft_race").toString
      val local = s"$tmp/store"
      val store = s"racefs://$local"
      k.seed(store)
      // id 1 is live and outside the committed tombstones
      k.ids(store)(1L) shouldBe true
      Seq(1L).toDF(k.key).write.parquet(s"$tmp/staged")
      LedgerRaceFs.arm(local, s"$tmp/staged",
        s"${k.ledger(local)}/batch_id=3")
      k.compact(store)
      LedgerRaceFs.fired shouldBe true
      k.ids(store)(1L) shouldBe false
      new java.io.File(k.ledger(local)).list().toSeq shouldBe
        Seq("batch_id=3")
      graft.util.Caches.releaseAll(spark)
    }
}
