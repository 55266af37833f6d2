package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{DedupState, HnswGeoStore, IVF, StoreDigest}
import graft.pipelines.CorpusPipeline
import graft.streaming.StreamingEvents

/** `corpus_stream`: one op = one micro-batch through
  * `StreamingEvents.curationAdmissionStream` (quality + language filters,
  * text dedup against a `DedupState` store, semantic dedup against an
  * `HnswGeoStore`, both folds, compaction every [[CompactEvery]] batches),
  * followed by one serve: `HnswGeoStore.load` + `batchNeighbors` over a
  * fixed probe batch, collected. The standing corpus is seeded at set-up.
  *
  * Each generated batch plants exact, near-text and semantic twins of
  * stored docs and of other docs in the same batch; the checks know which
  * rows must survive.
  */
final class CorpusStream(spark: SparkSession, seed: Long) extends Workload {
  import CorpusStream._
  import spark.implicits._
  val name = "corpus_stream"

  final class Gen(seed: Long) {
    private def rngFor(k: Long) = new scala.util.Random(seed * 1000003L + k)
    private def text(rng: scala.util.Random): String =
      (0 until DocWords).map { k =>
        if (k % 4 == 0) "the" else if (k % 9 == 6) "and" else Vocab(rng.nextInt(Vocab.size))
      }.mkString(" ")
    private def norm(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    private def vec(rng: scala.util.Random): Array[Float] = norm(Array.fill(Dim)(rng.nextGaussian()))
    private def near(rng: scala.util.Random, v: Array[Float]): Array[Float] =
      norm(v.map(_ + TwinNoise * rng.nextGaussian()))
    private def swapLast(rng: scala.util.Random, t: String): String = {
      val w = t.split(' ')
      val alt = Vocab.filterNot(_ == w.last)
      (w.dropRight(1) :+ alt(rng.nextInt(alt.size))).mkString(" ")
    }

    val standing: IndexedSeq[Row3] = {
      val rng = rngFor(-1)
      (1 to StandingDocs).map(id => (id.toLong, text(rng), vec(rng)))
    }

    /** Batch `b` (0 is the warm-up): planted twins first, novel docs last. */
    def batch(b: Int): Batch = {
      val rng = rngFor(b)
      var next = (b + 1L) * 1000000L
      def id(): Long = { next += 1; next }
      val drop = mutable.Set[Long](); val keep = mutable.Set[Long](); val approx = mutable.Set[Long]()
      val picks = rng.shuffle(standing.indices.toVector).take(3 * TwinsOfStored).map(standing)
      val rows = mutable.ArrayBuffer[Row3]()
      picks.zipWithIndex.foreach { case ((_, t, v), k) =>
        val i = id(); drop += i
        k / TwinsOfStored match {
          case 0 => rows += ((i, t, v))                                // exact
          case 1 => rows += ((i, swapLast(rng, t), near(rng, v))); approx += i // near text
          case _ => rows += ((i, text(rng), near(rng, v))); approx += i       // semantic
        }
      }
      (0 until 3 * PairsInBatch).foreach { k =>
        val (a, b2) = (id(), id()); keep += a; drop += b2
        val (t, v) = (text(rng), vec(rng))
        rows += ((a, t, v))
        k / PairsInBatch match {
          case 0 => rows += ((b2, t, v))
          case 1 => rows += ((b2, swapLast(rng, t), near(rng, v))); approx += b2
          case _ => rows += ((b2, text(rng), near(rng, v))); approx += b2
        }
      }
      while (rows.size < BatchDocs) { val i = id(); keep += i; rows += ((i, text(rng), vec(rng))) }
      Batch(rows.toSeq, drop.toSet, keep.toSet, approx.toSet)
    }
  }

  private val gen = new Gen(seed)
  private var textDir, geoDir, outDir, ckptDir: File = _
  private var stream: MemoryStream[Row3] = _
  private var query: StreamingQuery = _
  private var probes: DataFrame = _
  private val batches = mutable.Map[Int, Batch]()
  private val stored = mutable.Set[Long]()
  private val served = mutable.Map[Int, Array[org.apache.spark.sql.Row]]()
  private var stateInput = 0L
  private var approxPlanted, approxDropped, selfHits, selfProbes = 0L

  def dims: Seq[(String, String)] = Seq(
    "standing_docs" -> StandingDocs.toString,
    "batch_docs" -> BatchDocs.toString,
    "dim" -> Dim.toString,
    "ivf_cells" -> Cells.toString,
    "compact_every" -> CompactEvery.toString,
    "planted_per_batch" -> (s"exact/near/semantic twins of stored docs: $TwinsOfStored each; " +
      s"exact/near/semantic in-batch pairs: $PairsInBatch each"),
    "planted_share" -> f"${(3 * TwinsOfStored + 3 * PairsInBatch).toDouble / BatchDocs}%.2f",
    "probes_per_serve" -> Probes.toString,
    "serve_k" -> K.toString)

  // the standing corpus and the first three batches
  def inputDigest: String = digestOf(gen)
  def inputDigestOf(s: Long): String = digestOf(new Gen(s))
  private def digestOf(g: Gen): String = {
    def row(r: Row3) = s"${r._1}|${r._2}|${r._3.mkString(",")}"
    Util.sha256(g.standing.iterator.map(row) ++ (0 until 3).iterator.flatMap(b => g.batch(b).rows.map(row)))
  }

  private def frame(rows: Seq[Row3], idCol: String): DataFrame =
    rows.toDF(idCol, "text", "embedding")

  private def admit(b: Int): Unit = {
    if (query == null) {
      implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
      stream = MemoryStream[Row3]
      query = StreamingEvents.curationAdmissionStream(stream.toDF().toDF("doc_id", "text", "embedding"),
        textDir.getPath, geoDir.getPath, outDir.getPath, ckptDir.getPath,
        semanticThreshold = SemanticThreshold, compactEvery = CompactEvery)
    }
    val batch = gen.batch(b)
    batches(b) = batch
    stream.addData(batch.rows)
    query.processAllAvailable()
  }

  /** Seeds the standing stores; the stream starts with the first warm-up op. */
  def prepare(rep: Int, dir: File): Unit = {
    textDir = new File(dir, "text"); geoDir = new File(dir, "geo")
    outDir = new File(dir, "out"); ckptDir = new File(dir, "ckpt")
    batches.clear(); stored.clear(); served.clear()
    approxPlanted = 0; approxDropped = 0; selfHits = 0; selfProbes = 0
    val docs = frame(gen.standing, "doc_id")
    val emb = docs.select(col("doc_id").as("vec_id"), col("embedding"))
    DedupState.build(spark, CorpusPipeline.qualityLang(docs.select("doc_id", "text"))
      .select("doc_id", "text"), textDir.getPath)
    HnswGeoStore.build(spark, emb, geoDir.getPath,
      IVF.train(emb, k = Cells, iters = 3, maxTrainRows = StandingDocs))
    graft.CacheRegistry.releaseAll()
    stored ++= gen.standing.map(_._1)
    stateInput = gen.standing.map(r => 8L + r._2.getBytes("UTF-8").length + 4L * Dim).sum
    probes = gen.standing.take(Probes).map(r => (r._1, r._3)).toDF("probe_id", "embedding")
  }

  def cycle: Int = CompactEvery

  /** `StoreDigest` of both stores. */
  override def stateDigest(): Option[String] = Some(Util.sha256(Iterator(
    StoreDigest.digestDedup(spark, DedupState.load(spark, textDir.getPath)),
    StoreDigest.digestGeo(spark, HnswGeoStore.load(spark, geoDir.getPath))
  ).flatMap(_.collect().map(_.toString).sorted)))

  // a whole cycle of warm-up batches: the compaction path then runs warm in
  // the loop too (cold, its first run swung by 40% from run to run)
  override def warmUpOps: Int = CompactEvery

  /** Op i streams batch i + warmUpOps, so the warm-up ops -2, -1 stream
    * batches 0 and 1, and the second op of every cycle is a compaction base.
    */
  private def batchOf(i: Int): Int = i + warmUpOps

  def run(i: Int): Long = {
    Spans("StreamingEvents.curationAdmissionStream batch")(admit(batchOf(i)))
    stateInput += batches(batchOf(i)).bytes
    BatchDocs
  }

  override def serve(i: Int): Boolean = {
    served(i) = Spans("serve") {
      val st = Spans("HnswGeoStore.load")(HnswGeoStore.load(spark, geoDir.getPath))
      Spans("HnswGeoStore.batchNeighbors") {
        HnswGeoStore.batchNeighbors(st, probes, k = K).collect()
      }
    }
    true
  }

  def opInputBytes(i: Int): Long = batches(batchOf(i)).bytes

  private def checkBatch(b: Int): Seq[String] = {
    val batch = batches(b)
    val kept = Option(new File(outDir, s"batch_id=$b").listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).toSeq
      .flatMap { f =>
        val (cols, rows) = Parquet.read(f)
        rows.map(r => r(cols.indexOf("doc_id")).toLong)
      }.toSet
    val ids = batch.rows.map(_._1).toSet
    val errs = mutable.ArrayBuffer[String]()
    if (!kept.subsetOf(ids)) errs += s"batch $b kept ${(kept -- ids).size} rows not in the batch"
    val exact = batch.mustDrop -- batch.nearOrSemantic
    if ((kept & exact).nonEmpty) errs += s"batch $b admitted exact twins ${kept & exact}"
    if (!batch.mustKeep.subsetOf(kept))
      errs += s"batch $b dropped novel or first-of-pair docs ${batch.mustKeep -- kept}"
    approxPlanted += batch.nearOrSemantic.size
    approxDropped += (batch.nearOrSemantic -- kept).size
    stored ++= kept
    errs.toSeq
  }

  def check(i: Int): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]() ++ checkBatch(batchOf(i))
    served.get(i).foreach { rows =>
      rows.foreach { r =>
        val (probe, vec, rank) = (r.getAs[Long]("probe_id"), r.getAs[Long]("vec_id"), r.getAs[Int]("rank"))
        if (!stored(vec)) errs += s"serve returned unknown vec_id $vec"
        if (rank < 1 || rank > K) errs += s"serve rank $rank outside 1..$K"
        if (rank == 1 && vec == probe) selfHits += 1
      }
      selfProbes += Probes
    }
    errs.take(5).toSeq
  }

  override def finish(): Seq[String] = {
    if (query != null) { query.stop(); query = null }
    val errs = mutable.ArrayBuffer[String]()
    if (approxDropped < MinTwinDropShare * approxPlanted)
      errs += s"near/semantic twins dropped $approxDropped of $approxPlanted"
    if (selfHits < MinSelfRecall * selfProbes)
      errs += s"serve found a stored probe at rank 1 for $selfHits of $selfProbes"
    errs.toSeq
  }

  override def summary: Seq[(String, String)] = Seq(
    "near_semantic_twins_dropped_share" -> f"${approxDropped.toDouble / math.max(1L, approxPlanted)}%.4f",
    "serve_self_recall_at_1" -> f"${selfHits.toDouble / math.max(1L, selfProbes)}%.4f")

  def stateRoots: Seq[File] = Seq(textDir, geoDir, outDir, ckptDir)
  def stateInputBytes: Long = stateInput
  def storeRoots: Seq[File] = Seq(textDir, geoDir)
  override def checkpointRoot: Option[File] = Some(ckptDir)
}

object CorpusStream {
  type Row3 = (Long, String, Array[Float])
  final case class Batch(rows: Seq[Row3], mustDrop: Set[Long], mustKeep: Set[Long],
                         nearOrSemantic: Set[Long]) {
    def bytes: Long = rows.map(r => 8L + r._2.getBytes("UTF-8").length + 4L * r._3.length).sum
  }

  val StandingDocs = 1200
  val BatchDocs = 60
  val TwinsOfStored = 4
  val PairsInBatch = 3
  val Dim = 16
  val Cells = 8
  val DocWords = 48
  val TwinNoise = 0.03
  val SemanticThreshold = 0.95
  // every other batch is a compaction base: a cycle of two ops already
  // covers both bands, and a longer cycle does not fit the run budget
  val CompactEvery = 2
  val Probes = 32
  val K = 10
  // the approximate legs (MinHash banding, routed graph search) may miss a
  // planted twin; the exact legs are checked per op without slack
  val MinTwinDropShare = 0.9
  val MinSelfRecall = 0.9
  val Vocab: IndexedSeq[String] = (
    "river bridge morning evening garden window kitchen station market harbor " +
    "valley mountain forest village engineer teacher farmer painter driver sailor " +
    "lantern kettle ledger blanket basket ladder wagon carriage compass anchor " +
    "walking singing reading building painting sailing writing running carrying " +
    "counting cooking planting fishing wandering listening watching waiting " +
    "quiet bright narrow gentle heavy golden silver wooden ancient northern " +
    "crowded hidden steady careful patient curious distant broken empty famous " +
    "report letter journey lesson story season harvest weather thunder shadow " +
    "coffee bread apple honey pepper butter cheese orange lemon tomato " +
    "follows carries watches builds opens crosses reaches gathers repairs notices " +
    "slowly quickly often always rarely nearly gladly softly loudly calmly " +
    "table chair pencil notebook candle mirror bottle pocket ribbon button"
  ).split(' ').toIndexedSeq
}
