package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType

import graft.ann.Similarity
import graft.streaming.StreamingEvents
import graft.text.Dedup

/** Increments, tombstone deletes, reads and compactions on the three
  * maintained stores: the k-NN graph store, the IVF index and the
  * dedup index. Each cycle writes to, reads, deletes from and compacts
  * every store once; the first cycle also
  * refreshes the k-NN centroid epoch. */
final class VectorStoreChurn extends Workload {
  /** Neighbours and probed cells, as in the k-NN graph board query. */
  private val K = 5
  private val Probes = 2
  private val Dim = Gen.Dim
  /** Seed corpus of each vector store, and of the dedup index: half of
    * sf0.1, so that a run's seeding, warm-up, cycle and rebuild gate fit
    * its time budget. */
  private val Vectors = Gen.Sf01Embeddings / 2
  private val Documents = Gen.Sf01Documents / 2
  /** Per cycle and store: vectors or documents added, and deleted. */
  private val VecIn = 30
  private val VecDel = 10
  private val DocIn = 20
  private val DocDel = 8
  /** One centroid per 40 vectors, as in the k-NN graph board query. */
  private val PerCentroid = 40
  private var dir = ""
  private def knn = s"$dir/knn"
  private def ivf = s"$dir/ivf"
  private def dedup = s"$dir/dedup"
  private var seed = 0L
  private var rng: scala.util.Random = _
  private var knnCentres: DataFrame = _
  private var ivfCentres: DataFrame = _
  /** Live corpora, the ground truth for the rebuild gate. */
  private val knnLive = mutable.LinkedHashMap.empty[Long, Row]
  private val ivfLive = mutable.LinkedHashMap.empty[Long, Row]
  private val docLive = mutable.LinkedHashMap.empty[Long, Row]
  private var nextVec = 0L
  private var nextDoc = 0L
  /** Last batch id used. The k-NN store keeps increments and deletes in
    * the same `batch_id=N` directories, so every mutation takes its own. */
  private var batch = 0L
  private def nextBatch(): Long = { batch += 1; batch }
  /** The last timed k-NN view read: its rows, and the live corpus and
    * centroid epoch it must reflect. */
  private var lastKnnRead: Option[(Vector[String], Seq[Row], DataFrame)] =
    None

  private def vecs(n: Int): Seq[Row] = {
    val rows = Gen.vectors(seed, nextVec until nextVec + n)
    nextVec += n
    rows
  }
  private def docs(n: Int): Seq[Row] = {
    val rows = Gen.docs(seed, nextDoc until nextDoc + n)
    nextDoc += n
    rows
  }
  private def vecDf(ctx: Ctx, rows: Iterable[Row]) =
    Gen.df(ctx.spark, rows.toSeq, Gen.vecSchema)
  private def docDf(ctx: Ctx, rows: Iterable[Row]) =
    Gen.df(ctx.spark, rows.toSeq, Gen.docSchema)
  /** Land an increment as a parquet file, as an upstream batch would,
    * and return it as the operation will read it. */
  private def land(ctx: Ctx, rows: Seq[Row], schema: StructType,
      name: String): DataFrame = {
    val path = s"$dir/landing/$name"
    Gen.df(ctx.spark, rows, schema).coalesce(1).write.parquet(path)
    ctx.inputRows += rows.size
    ctx.inputBytes += Workload.dirBytes(path)
    ctx.spark.read.schema(schema).parquet(path)
  }
  private def ids(ctx: Ctx, ids: Seq[Long]) = {
    import ctx.spark.implicits._
    ids.toDF("id")
  }

  def setup(ctx: Ctx, d: String): Unit = {
    dir = d
    seed = ctx.seed
    rng = new scala.util.Random(seed)
    val k0 = vecs(Vectors)
    knnCentres = vecDf(ctx, k0.filter(_.getLong(0) % PerCentroid == 0))
    ivfCentres = knnCentres
    Similarity.knnGraphIncrement(vecDf(ctx, k0), "vec_id", "embedding",
      knnCentres, Dim, K, knn, batchId = 0L, probes = Probes)
    k0.foreach(r => knnLive(r.getLong(0)) = r)
    val i0 = vecs(Vectors)
    Similarity.writeIvfIndex(Similarity.buildIvfIndex(vecDf(ctx, i0),
      "vec_id", "embedding", ivfCentres, Dim), s"$ivf/batch_id=0", "overwrite")
    i0.foreach(r => ivfLive(r.getLong(0)) = r)
    val d0 = docs(Documents)
    Dedup.buildDedupIndex(docDf(ctx, d0), "doc_id", "text")
      .write.parquet(s"$dedup/batch_id=-1")
    d0.foreach(r => docLive(r.getLong(0)) = r)
  }

  /** The k-NN increment and delete (the heaviest code paths) and one
    * read of every store. */
  def warmUp(ctx: Ctx): Unit = {
    val kNew = vecs(VecIn)
    Similarity.knnGraphIncrement(vecDf(ctx, kNew), "vec_id", "embedding",
      knnCentres, Dim, K, knn, batchId = nextBatch(), probes = Probes)
    kNew.foreach(r => knnLive(r.getLong(0)) = r)
    val kDel = sample(knnLive, VecDel).map(_.getLong(0))
    Similarity.knnGraphDelete(ids(ctx, kDel), "id", knn,
      batchId = nextBatch(), k = K)
    kDel.foreach(knnLive.remove)
    StreamingEvents.knnGraphView(ctx.spark, knn).collect()
    ivfQuery(ctx, sample(ivfLive, 5)).collect()
    dedupQuery(ctx, docDf(ctx, docs(5))).collect()
  }

  private def sample(live: mutable.LinkedHashMap[Long, Row], n: Int)
      : Seq[Row] = rng.shuffle(live.keys.toVector).take(n).map(live)

  private def ivfQuery(ctx: Ctx, queries: Seq[Row]): DataFrame =
    Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(ctx.spark, ivf),
      vecDf(ctx, queries), "vec_id", "embedding", ivfCentres, K, Dim)

  private def dedupQuery(ctx: Ctx, probe: DataFrame): DataFrame =
    Dedup.incrementalDedupIndexed(Dedup.readDedupIndex(ctx.spark, dedup),
      probe, "doc_id", "text")

  def cycle(ctx: Ctx, i: Int): Unit = {
    val b = nextBatch() // this cycle's increments
    val d = nextBatch() // this cycle's deletes
    // writes
    val kNew = vecs(VecIn)
    val kIn = land(ctx, kNew, Gen.vecSchema, s"knn_$b")
    if (ctx.op("write", "knn_increment") {
      ctx.span("ann.knnGraphIncrement") {
        Similarity.knnGraphIncrement(kIn, "vec_id", "embedding",
          knnCentres, Dim, K, knn, batchId = b, probes = Probes)
      }
    }) kNew.foreach(r => knnLive(r.getLong(0)) = r)
    val iNew = vecs(VecIn)
    val iIn = land(ctx, iNew, Gen.vecSchema, s"ivf_$b")
    if (ctx.op("write", "ivf_append") {
      val idx = ctx.span("ann.buildIvfIndex") {
        Similarity.buildIvfIndex(iIn, "vec_id", "embedding",
          ivfCentres, Dim)
      }
      ctx.span("ann.writeIvfIndex") {
        Similarity.writeIvfIndex(idx, s"$ivf/batch_id=$b", "overwrite")
      }
    }) iNew.foreach(r => ivfLive(r.getLong(0)) = r)
    val dNew = docs(DocIn)
    val dIn = land(ctx, dNew, Gen.docSchema, s"dedup_$b")
    if (ctx.op("write", "dedup_append") {
      ctx.span("text.buildDedupIndex") {
        Dedup.buildDedupIndex(dIn, "doc_id", "text")
          .write.mode("overwrite").parquet(s"$dedup/batch_id=$b")
      }
    }) dNew.foreach(r => docLive(r.getLong(0)) = r)
    // reads
    ctx.op("read", "knn_view") {
      val v = ctx.span("streaming.knnGraphView", "build") {
        StreamingEvents.knnGraphView(ctx.spark, knn)
      }
      val rows = ctx.span("streaming.knnGraphView", "action")(v.collect())
      lastKnnRead = Some((Workload.canon(rows), knnLive.values.toSeq,
        knnCentres))
    }
    val qs = sample(ivfLive, VecIn)
    ctx.op("read", "ivf_query") {
      ctx.span("ann.ivfTopKFromIndex")(ivfQuery(ctx, qs).collect())
    }
    val probe = docDf(ctx, docs(DocIn))
    ctx.op("read", "dedup_query") {
      ctx.span("text.incrementalDedupIndexed")(dedupQuery(ctx, probe).collect())
    }
    // deletes
    val kDel = sample(knnLive, VecDel).map(_.getLong(0))
    if (ctx.op("delete", "knn_delete") {
      ctx.span("ann.knnGraphDelete") {
        Similarity.knnGraphDelete(ids(ctx, kDel), "id", knn, batchId = d, k = K)
      }
    }) kDel.foreach(knnLive.remove)
    val iDel = sample(ivfLive, VecDel).map(_.getLong(0))
    if (ctx.op("delete", "ivf_delete") {
      ctx.span("ann.deleteFromIvfIndex") {
        Similarity.deleteFromIvfIndex(ctx.spark, ivf, ids(ctx, iDel), "id", d)
      }
    }) iDel.foreach(ivfLive.remove)
    val dDel = sample(docLive, DocDel).map(_.getLong(0))
    if (ctx.op("delete", "dedup_delete") {
      ctx.span("text.deleteFromDedupIndex") {
        Dedup.deleteFromDedupIndex(ctx.spark, dedup, ids(ctx, dDel), "id", d)
      }
    }) dDel.foreach(docLive.remove)
    // maintenance
    ctx.op("compact", "knn_compact") {
      ctx.span("ann.compactKnnStore")(Similarity.compactKnnStore(ctx.spark, knn))
    }
    ctx.op("compact", "ivf_compact") {
      ctx.span("ann.compactIvfIndex")(Similarity.compactIvfIndex(ctx.spark, ivf))
    }
    ctx.op("compact", "dedup_compact") {
      ctx.span("text.compactDedupIndex") {
        Dedup.compactDedupIndex(ctx.spark, dedup, targetFiles = 4)
      }
    }
    if (i == 0) {
      // a new centroid epoch: the other half-way vectors of the seed corpus
      val fresh = vecDf(ctx, Gen.vectors(seed, (0 until Vectors)
        .filter(_ % PerCentroid == PerCentroid / 2).map(_.toLong)))
      if (ctx.op("refresh", "knn_refresh") {
        ctx.span("ann.knnGraphRefresh") {
          Similarity.knnGraphRefresh(ctx.spark, knn, fresh, "vec_id",
            "embedding", Dim, K, probes = Probes)
        }
      }) knnCentres = fresh
    }
  }

  def check(ctx: Ctx): Seq[String] = {
    val spark = ctx.spark
    def rebuild(live: Iterable[Row], centres: DataFrame) =
      Workload.canon(Similarity.knnGraph(vecDf(ctx, live), "vec_id",
        "embedding", centres, Dim, K, probes = Probes))
    val knnWant = rebuild(knnLive.values, knnCentres)
    val knnGot = Workload.canon(StreamingEvents.knnGraphView(spark, knn))
    val qs = sample(ivfLive, 40)
    val qIds = qs.map(_.getLong(0)).toSet
    val ivfWant = Workload.canon(Similarity.ivfTopK(vecDf(ctx, ivfLive.values),
      "vec_id", "embedding", ivfCentres, K, Dim).collect()
      .filter(r => qIds.contains(r.getLong(0))))
    val ivfGot = Workload.canon(ivfQuery(ctx, qs))
    val probe = docDf(ctx, Gen.docs(seed, (1L to 40L).map(_ * 13 % nextDoc)) ++
      Gen.docs(seed + 99, nextDoc until nextDoc + 10))
    val dedupWant = Workload.canon(Dedup.incrementalDedup(
      docDf(ctx, docLive.values), probe, "doc_id", "text"))
    val dedupGot = Workload.canon(dedupQuery(ctx, probe))
    graft.util.Caches.releaseAll(spark)
    Seq(
      Workload.diff("k-NN store view vs knnGraph rebuild", knnGot, knnWant),
      lastKnnRead.flatMap { case (got, live, centres) =>
        Workload.diff("last timed k-NN view read vs rebuild", got,
          rebuild(live, centres))
      },
      Workload.diff("IVF index top-k vs ivfTopK rebuild", ivfGot, ivfWant),
      Workload.diff("dedup index verdicts vs incrementalDedup rebuild",
        dedupGot, dedupWant)).flatten
  }

  def corrupt(): Unit = lastKnnRead = lastKnnRead.map {
    case (rows, live, centres) => (rows.drop(1), live, centres)
  }

  override def stores: Seq[String] =
    Seq(knn, ivf, s"${ivf}__tombstones", dedup, s"${dedup}__tombstones")
  override def freshLiveBytes(ctx: Ctx, scratch: String): Long = {
    StreamingEvents.knnGraphView(ctx.spark, knn).coalesce(1)
      .write.parquet(s"$scratch/knn")
    Similarity.readIvfIndex(ctx.spark, ivf).coalesce(1)
      .write.parquet(s"$scratch/ivf")
    Dedup.readDedupIndex(ctx.spark, dedup).coalesce(1)
      .write.parquet(s"$scratch/dedup")
    Workload.dirBytes(scratch)
  }
  override def liveAndStoredRows(ctx: Ctx): (Long, Long) = {
    val spark = ctx.spark
    (StreamingEvents.knnGraphView(spark, knn).count() +
      Similarity.readIvfIndex(spark, ivf).count() +
      Dedup.readDedupIndex(spark, dedup).count(),
      spark.read.parquet(s"$knn/edges").count() +
        spark.read.parquet(ivf).count() + spark.read.parquet(dedup).count())
  }
}
