package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, PostingsStore, Similarity, TextAnalysis, VectorStore}

/**
 * `corpus_serve`: the LLM-data-pipeline stores. Set-up builds a
 * `PostingsStore` and a `VectorStore` over a seeded corpus (Zipf words,
 * clustered integer embeddings). The timed script: an incoming batch
 * (10% exact and 10% near copies) goes through `Dedup.incrementalKeepers`
 * against the corpus and the keepers are appended to both stores; four
 * closed-loop clients serve 10-query BM25 and IVF batches; documents are
 * taken down from both stores; an as-of read from before the takedown
 * follows; `compact` folds both stores, the four clients serve a second
 * burst, the postings store serves once more alone and the folded vector
 * store must hold exactly the live vectors.
 * Every served result is compared
 * with the from-scratch `TextAnalysis.bm25DocTopK` / `Similarity.ivfTopKWith`
 * replay over the same logical corpus.
 */
object CorpusServe {
  val Docs = 500
  val Incoming = 100
  val Words = 80
  val Vocab = 20000
  val Dim = 64
  val VecClusters = 32
  val Centroids = 16
  val NProbe = 4
  val K = 10
  val Queries = 10
  val SetupReps = 3
  /** Concurrent read clients of a serving burst (at most the cores). */
  val Clients = 4
  /** The two bursts run at least `--seconds` and until they hold this
    * many reads; with the two single reads, the read p50 (a detail-line
    * figure) always has ten samples beyond it. */
  val MinReads = 18
  val TakedownDocs = 5

  private def docsDf(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }

  def embDf(spark: SparkSession, seed: Long, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, Gen.embedding(seed, id, Dim, VecClusters).toSeq)).toDF("vec_id", "v")
  }

  def build(spark: SparkSession, seed: Long, docs: Seq[(Long, String)], dir: String): Unit = {
    val d = docsDf(spark, docs)
    PostingsStore.build(d, s"$dir/postings")
    VectorStore.build(embDf(spark, seed, docs.map(_._1)), s"$dir/vectors", nCentroids = Centroids)
    d.write.parquet(s"$dir/corpus")
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private sealed trait Served { def bound: Long; def got: Set[Seq[Any]] }
  private final case class Bm25(qs: Seq[(Long, String)], bound: Long, got: Set[Seq[Any]]) extends Served
  private final case class Ann(qids: Seq[Long], bound: Long, got: Set[Seq[Any]]) extends Served

  def run(ctx: Ctx, out: Outcome): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val tr = ctx.tracer
    val seed = ctx.seed
    val zipf = new Gen.Zipf(Vocab)
    val initial = (0L until Docs).map(id => id -> Gen.docText(seed, id, Words, zipf))
    for (i <- 0 until SetupReps) {
      val d = ctx.path(s"setup$i")
      Run.setup(out)(build(spark, seed, initial, d))
      if (i > 0) Run.deleteRecursively(new java.io.File(ctx.path(s"setup${i - 1}")))
    }
    val dir = ctx.path(s"setup${SetupReps - 1}")
    val pPath = s"$dir/postings"
    val vPath = s"$dir/vectors"
    out.storeDirs ++= Seq(pPath, vPath)
    val cents = VectorStore.centroids(spark, vPath)

    val texts = mutable.LinkedHashMap.empty[Long, String] ++= initial
    val live = mutable.LinkedHashSet.empty[Long] ++= initial.map(_._1)
    val liveAt = mutable.Map(0L -> live.toSet) // live doc ids after each operation id
    var op = 0L
    val served = mutable.ArrayBuffer.empty[Served]
    val r = Gen.rng(seed, 300, 0)
    var nextQuery = 0L

    // the base, batch and marker subtrees a serve unions, as listed on disk
    def subtrees(): Unit = if (tr.enabled) tr.value("StoreSwap.subtrees", {
      def dirs(p: String) = Option(new java.io.File(p).listFiles()).map(_.count(_.isDirectory)).getOrElse(0)
      Seq(s"$pPath/postings", s"$pPath/deletes", s"$vPath/assign", s"$vPath/deletes")
        .map(dirs).sum.toDouble
    })

    def bm25Queries(): Seq[(Long, String)] = (0 until Queries).map { _ =>
      nextQuery += 1
      nextQuery -> Seq.fill(3)(Gen.word(10 + zipf.sample(r))).mkString(" ")
    }
    def annQueries(): Seq[Long] =
      (0 until Queries).map { _ => nextQuery += 1; 1000000000000L + nextQuery }

    // a serve reads the store as of the current operation; `op` only
    // moves between read phases, never while clients are serving
    def search(qs: Seq[(Long, String)], asOf: Option[Long]): Unit = {
      val bound = asOf.getOrElse(op)
      Run.timed(ctx, out, if (asOf.isDefined) "search_asof" else "search", read = true) {
        subtrees()
        val qdf = qs.toDF("query_id", "qtext")
        val res = tr.span("PostingsStore.bm25DocTopK")(asOf match {
          case Some(b) => rows(PostingsStore.bm25DocTopKAsOf(spark, pPath, qdf, K, b))
          case None => rows(PostingsStore.bm25DocTopK(spark, pPath, qdf, K))
        })
        tr.value("rows_returned", res.size.toDouble)
        res
      }.foreach(got => served.synchronized { served += Bm25(qs, bound, got) })
    }

    def ann(qids: Seq[Long]): Unit = {
      val bound = op
      Run.timed(ctx, out, "ann", read = true) {
        subtrees()
        val res = tr.span("VectorStore.topK")(
          rows(VectorStore.topK(spark, vPath, embDf(spark, seed, qids), K, NProbe)))
        tr.value("rows_returned", res.size.toDouble)
        res
      }.foreach(got => served.synchronized { served += Ann(qids, bound, got) })
    }

    // the batches the clients serve, in order, generated up front (so the
    // batches served do not depend on thread timing)
    val pool = (0 until 4 * MinReads).map(i => if (i % 2 == 0) Left(bm25Queries()) else Right(annQueries()))

    /** `Clients` closed-loop clients serve the pool's batches `from`
      * until `until`, and on past it while `deadline` is ahead. */
    def readBurst(from: Int, until: Int, deadline: Long): Unit = {
      val next = new java.util.concurrent.atomic.AtomicInteger(from)
      val clients = (0 until Clients).map { c =>
        new Thread(() => {
          var i = next.getAndIncrement()
          while (i < pool.size && (i < until || System.nanoTime() < deadline)) {
            pool(i) match {
              case Left(qs) => search(qs, None)
              case Right(qids) => ann(qids)
            }
            i = next.getAndIncrement()
          }
        }, s"perfbench-client-$c")
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
    }

    def takedown(): Unit = {
      val ids = r.ints(TakedownDocs.toLong * 4, 0, live.size).toArray.distinct
        .take(TakedownDocs).map(live.toIndexedSeq(_)).toSeq
      op += 1
      Run.timed(ctx, out, "takedown", read = false) {
        tr.span("PostingsStore.deleteDocs")(
          PostingsStore.deleteDocs(spark, pPath, ids.toDF("doc_id"), op))
        tr.span("VectorStore.deleteVecs")(
          VectorStore.deleteVecs(spark, vPath, ids.toDF("vec_id"), op))
        PostingsStore.postings(spark, pPath).filter(col("doc_id").isin(ids: _*)).count() +
          VectorStore.assignment(spark, vPath).filter(col("vec_id").isin(ids: _*)).count()
      }.foreach(n => out.check(n == 0, s"takedown at op $op still serves $n rows"))
      live --= ids
      liveAt(op) = live.toSet
    }

    def ingest(): Unit = {
      val earlier = texts.values.toIndexedSeq
      val incoming = (Docs.toLong until Docs.toLong + Incoming).map(id =>
        id -> Gen.incomingText(seed, id, Words, zipf, earlier))
      val keep = Run.timed(ctx, out, "dedup", read = false) {
        tr.span("Dedup.incrementalKeepers")(Dedup.incrementalKeepers(
          docsDf(spark, incoming), spark.read.parquet(s"$dir/corpus"))
          .collect().map(_.getLong(0)).toSet)
      }
      keep.foreach { ks =>
        val keepers = incoming.filter(d => ks(d._1))
        tr.value("Dedup.keep_ratio", ks.size.toDouble / Incoming)
        out.figures("Dedup.keep_ratio") = ks.size.toDouble / Incoming
        op += 1
        Run.timed(ctx, out, "append", read = false) {
          tr.span("PostingsStore.appendBatch")(
            PostingsStore.appendBatch(docsDf(spark, keepers), pPath, op))
          tr.span("VectorStore.appendBatch")(
            VectorStore.appendBatch(embDf(spark, seed, keepers.map(_._1)), vPath, op))
        }
        // the dedup prior: every accepted document (bookkeeping, untimed)
        docsDf(spark, keepers).write.mode("append").parquet(s"$dir/corpus")
        texts ++= keepers
        live ++= keepers.map(_._1)
        liveAt(op) = live.toSet
      }
    }

    // the timed script: ingest, serve under load, take down, read as of
    // before the takedown, fold, serve under load again and once more
    // alone. The two bursts split the serving (at least `--seconds` and
    // [[MinReads]] reads in all) so that the reads span the run.
    val gc0 = Run.gcMs
    ingest()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L
    readBurst(0, MinReads / 2, Long.MinValue)
    takedown()
    search(bm25Queries(), Some(op - 1))
    Run.timed(ctx, out, "compact", read = false) {
      tr.span("PostingsStore.compact")(PostingsStore.compact(spark, pPath))
      tr.span("VectorStore.compact")(VectorStore.compact(spark, vPath))
    }
    readBurst(MinReads / 2, MinReads, deadline)
    search(bm25Queries(), None)

    out.figures("jvm.gc_ms") = (Run.gcMs - gc0).toDouble
    val ingestMs = Seq("dedup", "append").flatMap(out.latencyMs).sum
    out.figures("docs_ingested_per_s") = Incoming / (ingestMs / 1000.0)
    out.figures("maintenance_s") = out.latencyMs("compact").sum / 1000.0

    // the folded vector store holds exactly the live vectors (its serving
    // plan is the one the burst's replays already checked)
    val folded = VectorStore.assignment(spark, vPath).select("vec_id").collect().map(_.getLong(0))
    out.check(folded.sorted.toSeq == live.toSeq.sorted, "compacted vector store differs from the live ids")

    // oracles, outside the timed window: from-scratch replays over the
    // logical corpus each serve saw. Scores and ranks are per query, so
    // the serves of one kind at one bound replay as one query batch
    def liveIds(bound: Long): Seq[Long] = liveAt.filter(_._1 <= bound).maxBy(_._1)._2.toSeq.sorted
    def byQuery(rows: Set[Seq[Any]]): Map[Any, Set[Seq[Any]]] = rows.groupBy(_.head)
    served.collect { case b: Bm25 => b }.groupBy(_.bound).foreach { case (bound, ss) =>
      val docs = liveIds(bound).map(id => id -> texts(id))
      val want = byQuery(rows(TextAnalysis.bm25DocTopK(
        ss.flatMap(_.qs).toSeq.toDF("query_id", "qtext"), docsDf(spark, docs), K)))
      ss.foreach { b =>
        val ok = b.got.nonEmpty && b.got == b.qs.flatMap(q => want.getOrElse(q._1, Set.empty)).toSet
        out.check(ok, s"bm25 serve at op $bound differs from the replay")
      }
    }
    served.collect { case a: Ann => a }.groupBy(_.bound).foreach { case (bound, ss) =>
      val want = byQuery(rows(Similarity.ivfTopKWith(embDf(spark, seed, liveIds(bound)), cents,
        embDf(spark, seed, ss.flatMap(_.qids).toSeq), K, NProbe)))
      ss.foreach { a =>
        val ok = a.got.nonEmpty && a.got == a.qids.flatMap(q => want.getOrElse(q, Set.empty)).toSet
        out.check(ok, s"ann serve at op $bound differs from the replay")
      }
    }
    val userBytes = live.toSeq.map(id => texts(id).length.toLong + Dim * 8L).sum
    val bytes = Seq(pPath, vPath).map(d => Run.dirUsage(d)._1).sum
    out.figures("store_bytes_per_user_byte") = bytes.toDouble / userBytes
  }
}
