package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, MapType, StructField, StructType}

/**
 * Similarity search over an embedding column (`Array[Float]`) — the
 * high-dimensional generalization of the point store's kNN (SURVEY §7.1
 * step 6).
 *
 *  - Exact top-k by inner product / cosine: broadcast the (small) query
 *    set against the embedding table — one scan, no all-pairs shuffle.
 *  - Near-dup pairs: blocked all-pairs within a blocking key (label,
 *    cluster id, LSH bucket …) — the blocking bound is what makes this
 *    feasible at scale; never an unblocked cross join.
 *  - Random-hyperplane LSH: L tables × b sign bits from seeded
 *    hyperplanes; candidates share a bucket in ≥1 table, then exact
 *    re-rank. Scan cost drops to the candidate fraction; recall is
 *    tunable via (L, b) — measured deterministically in `SimilaritySpec`.
 *
 * Determinism policy: the oracle-gated paths use fixed-point integer
 * arithmetic — elements scaled by 1e6 to BIGINT, so dot products
 * (≤ ~6e12 per pair here) are exact integers in any engine and any
 * summation order. Float cosine is exposed too (`cosine`) for ranking
 * use; its ordering equals integer-dot ordering for same-norm inputs.
 */
object Similarity {

  val Scale = 1000000L

  /** Fixed-point copy of the embedding table: `(vec_id, label, v)` with
    * `v: Array[Long]` = round(embedding * 1e6). Element-cast to double
    * first so scaling and rounding are IEEE-double in every engine. */
  def intEmbeddings(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      expr(s"transform(embedding, x -> cast(round(cast(x as double) * $Scale) as bigint))")
        .as("v"))

  /** Exact integer inner product of two BIGINT vectors — the native
    * fused-loop expression [[graft.functions.DotLong]] (no UDF, no
    * intermediate array per pair). */
  def dotInt(a: String, b: String): Column =
    graft.functions.GraftFunctions.dot_long(col(a), col(b))

  /** Float cosine similarity of two float-array columns (double math). */
  def cosine(a: String, b: String): Column = {
    def dot(u: String, w: String) =
      s"aggregate(zip_with($u, $w, (x, y) -> cast(x as double) * cast(y as double)), 0d, (acc, z) -> acc + z)"
    expr(s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))")
  }

  /**
   * Symmetric int8 quantization of the integer embedding column `v` —
   * the storage/serving compression step of an embedding pipeline (8×
   * smaller vectors; at 100 TB the difference between embeddings that
   * fit executor memory and ones that don't). Per vector:
   * `scale = max(|v_i|)` and `q_i = trunc(v_i * 127 / scale)` (exact
   * 64-bit integer arithmetic — no float rounding, so every engine
   * agrees bit-for-bit). Returns per-vector audit rows rather than the
   * arrays themselves: `(vec_id, amax, q_fp, err_l1)` where `q_fp` is
   * the md5 fingerprint of the quantized vector (pinning every element
   * exactly) and `err_l1` the L1 reconstruction error against
   * `q_i * scale / 127` — the metric a pipeline monitors to decide
   * whether int8 is safe for its corpus. Pure per-row projection,
   * shuffle-free.
   */
  def quantizeInt8(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("v"),
        expr("greatest(array_max(transform(v, x -> abs(x))), cast(1 as bigint))").as("amax"))
      .withColumn("q", expr("transform(v, x -> div(x * 127, amax))"))
      .select(col("vec_id"), col("amax"),
        expr("md5(concat_ws(',', transform(q, y -> cast(y as string))))").as("q_fp"),
        expr("""aggregate(zip_with(v, q, (x, y) -> abs(x - div(y * amax, 127))),
                          cast(0 as bigint), (acc, e) -> acc + e)""").as("err_l1"))

  /** Seed of the deterministic random-projection matrix. */
  val ProjSeed = 7

  /**
   * The md5-derived ±1 projection matrix: coefficient (j, d) is +1
   * when the first byte of `md5("proj:<seed>:<j>:<d>")` is even —
   * replayable in SQL as the parity of the leading hex pair. Shared by
   * [[randomProject]] and the oracle spelling.
   */
  def projectionMatrix(dIn: Int, dOut: Int, seed: Int = ProjSeed): Array[Array[Long]] =
    Array.tabulate(dOut) { j =>
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(dIn) { d =>
        val h = md.digest(s"proj:$seed:$j:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1L else -1L
      }
    }

  /**
   * Signed random projection to `dOut` integer components — the
   * Johnson–Lindenstrauss / Achlioptas-style dimensionality reduction
   * an embedding pipeline runs before clustering or coarse search
   * (8 TB of 64-dim vectors become 2 TB of 16-dim ones with inner
   * products approximately preserved). Each output component is one
   * fused [[graft.functions.DotLong]] kernel against a PLAN-LITERAL
   * ±1 row of the md5-derived matrix ([[projectionMatrix]]) — exact
   * integer arithmetic, per-row, shuffle-free, and bit-replayable in
   * SQL. Returns `(vec_id, label, p)` with `p` the dOut-element BIGINT
   * array; `p` drops into every operator that reads `v` (top-k, IVF,
   * quantization) unchanged.
   */
  def randomProject(emb: DataFrame, dIn: Int, dOut: Int,
                    seed: Int = ProjSeed): DataFrame = {
    val m = projectionMatrix(dIn, dOut, seed)
    emb.select(col("vec_id"), col("label"),
      array(m.map(row =>
        graft.functions.GraftFunctions.dot_long(col("v"), lit(row))): _*).as("p"))
  }

  /**
   * The projection's production composition: COARSE search in the
   * `dOut`-dim projected space nominates `c` candidates per query,
   * then only those pairs are re-scored by the exact full-dimension
   * integer dot — full-precision reads stay O(queries · c) at any
   * corpus size (the same refine shape as [[ivfPqRerankTopK]], with
   * the 4×-smaller projected vectors as the scan side). Returns
   * `(qid, nid, dot, rank)` with exact dots.
   */
  def projectRerankTopK(emb: DataFrame, queries: DataFrame, dIn: Int,
                        dOut: Int, k: Int, c: Int,
                        seed: Int = ProjSeed): DataFrame = {
    val pr = randomProject(emb, dIn, dOut, seed)
      .select(col("vec_id"), col("p").as("v"))
    val prq = randomProject(queries, dIn, dOut, seed)
      .select(col("vec_id"), col("p").as("v"))
    val cand = ipTopK(pr, prq, c).select(col("qid"), col("nid"))
    val qv = queries.select(col("vec_id").as("qid"), col("v").as("qv"))
    val rescored = emb.select(col("vec_id").as("nid"), col("v").as("nv"))
      .join(broadcast(cand.join(broadcast(qv), Seq("qid"))), Seq("nid"))
      .select(col("qid"), col("nid"), dotInt("qv", "nv").as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }

  /**
   * Exact top-k neighbors by integer inner product for each query
   * vector: broadcast the query side, rank with a per-query window.
   * Ties break on neighbor id — fully deterministic.
   */
  def ipTopK(emb: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("v").as("qv")))
    val scored = emb.select(col("vec_id").as("nid"), col("v"))
      .join(q, col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"), dotInt("qv", "v").as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }

  /** Blocked near-duplicate pairs: all pairs sharing `blockCol` with
    * integer inner product ≥ `minDot`. */
  def nearDupPairs(emb: DataFrame, minDot: Long, blockCol: String = "label"): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col(blockCol).as("blk"), col("v").as("va"))
    val b = emb.select(col("vec_id").as("id_b"), col(blockCol).as("blk"), col("v").as("vb"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), dotInt("va", "vb").as("dot"))
      .filter(col("dot") >= minDot)
  }

  /**
   * Maximal-marginal-relevance re-rank (Carbonell & Goldstein, SIGIR
   * 1998) — the diversity-aware retrieval composition: the top-`c`
   * candidates per query (exact integer inner product, [[ipTopK]]) are
   * re-ordered greedily so each pick trades relevance against
   * redundancy with the already-picked set:
   *
   *   pick_t = argmax  lamNum·rel(q,d) − (lamDen−lamNum)·max_{s∈S} sim(d,s)
   *
   * (the classic λ·rel − (1−λ)·maxSim, scaled by `lamDen` so every
   * score is an exact BIGINT — default λ = 7/10). The first pick is
   * pure relevance (S empty ⇒ redundancy 0); ties break on (score
   * desc, nid asc) — fully deterministic, oracle-replayable by a
   * recursive CTE.
   *
   * Scale shape: after ONE shuffle on `qid`, each query group holds
   * its own O(c) candidates with vectors (O(c·d) state) and the greedy
   * is O(k·c·d) partition-local integer work — queries never
   * coordinate, so the operator scales with the query count and is
   * indifferent to corpus size (the corpus was already reduced to the
   * shortlist by the broadcast top-c scan).
   *
   * Output: (qid, rank, nid, sc10) with `sc10` the λ-scaled marginal
   * score of the pick at its selection step.
   */
  def mmrRerankTopK(emb: DataFrame, queries: DataFrame, k: Int, c: Int,
      lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(c >= k, s"need c >= k, got k=$k c=$c")
    val cand = ipTopK(emb, queries, c)
      .join(emb.select(col("vec_id").as("nid"), col("v").as("nv")), "nid")
      .select(col("qid"), col("nid"), col("dot"), col("nv"))
    mmrRerank(cand, k, lamNum, lamDen)
  }

  /**
   * The greedy MMR stage alone, over an ALREADY-BUILT shortlist
   * `(qid, nid, dot, nv: Array[Long])` — feed it [[ipTopK]] output
   * (what [[mmrRerankTopK]] does), or an IVF/LSH/IVFPQ candidate set
   * at corpus scale where the exact scan is off the table. Same
   * contract as [[mmrRerankTopK]].
   */
  def mmrRerank(cand: DataFrame, k: Int,
      lamNum: Int = 7, lamDen: Int = 10): DataFrame = {
    require(k >= 1, s"need k >= 1, got k=$k")
    require(lamNum >= 0 && lamDen >= lamNum, s"need 0 <= lamNum <= lamDen")
    val spark = cand.sparkSession
    import spark.implicits._
    val mu = (lamDen - lamNum).toLong
    val lam = lamNum.toLong
    cand.select(col("qid"), col("nid"), col("dot"), col("nv"))
      .as[(Long, Long, Long, Array[Long])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // dot desc, nid asc — the shortlist's deterministic order
        val cs = it.toArray.sortBy(t => (-t._3, t._2))
        val n = cs.length
        val used = new Array[Boolean](n)
        val maxSim = new Array[Long](n) // max dot vs picked; 0 when S empty is never read (step 1 is pure rel)
        val out = new Array[(Long, Int, Long, Long)](math.min(k, n))
        var step = 0
        while (step < out.length) {
          var best = -1
          var bestSc = 0L
          var i = 0
          while (i < n) {
            if (!used(i)) {
              val sc = if (step == 0) lam * cs(i)._3
                       else lam * cs(i)._3 - mu * maxSim(i)
              // ties: score desc then nid asc — cs is nid-asc within
              // equal dot, but across dots nid order is arbitrary, so
              // compare nids explicitly
              if (best < 0 || sc > bestSc || (sc == bestSc && cs(i)._2 < cs(best)._2)) {
                best = i; bestSc = sc
              }
            }
            i += 1
          }
          used(best) = true
          out(step) = (qid, step + 1, cs(best)._2, bestSc)
          // fold the new pick into every remaining candidate's
          // redundancy bound — O(c·d) per pick
          val pv = cs(best)._4
          i = 0
          while (i < n) {
            if (!used(i)) {
              val v = cs(i)._4
              var d = 0L
              var j = 0
              while (j < v.length) { d += v(j) * pv(j); j += 1 }
              if (step == 0 || d > maxSim(i)) maxSim(i) = d
            }
            i += 1
          }
          step += 1
        }
        out.iterator
      }
      .toDF("qid", "rank", "nid", "sc10")
  }

  /**
   * Hyperplane matrix for [[lshBuckets]]: component (t, b, d) is
   * md5-derived — from `md5("plane:<seed>:<t>:<b>:<d>")` take four
   * 5-hex-char chunks (four 20-bit uniforms) and sum them, centered at
   * zero (Irwin–Hall n=4, a close gaussian approximation — a SINGLE
   * uniform costs ~0.2 recall vs gaussian directions at the pinned
   * operating point; the 4-sum recovers it). md5-derivation (rather
   * than a JVM PRNG) makes the planes reproducible in ANY engine, so
   * the whole LSH pipeline is oracle-checkable in SQL. |coef| ≤ 2^21
   * keeps the sign-test dot exact in 64-bit: |acc| ≤ dim · 2^21 ·
   * max|v| ≪ 2^63 for fixed-point inputs up to ~2^30.
   */
  def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(tables * bits * dim) { idx =>
      val t = idx / (bits * dim); val b = (idx / dim) % bits; val d = idx % dim
      val hex = md.digest(s"plane:$seed:$t:$b:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (0 until 4).map(j => java.lang.Long.parseLong(hex.substring(j * 5, j * 5 + 5), 16))
        .sum - 2097152L
    }
  }

  /**
   * Random-hyperplane LSH index: for each of `tables` hash tables,
   * a `bits`-bit signature of hyperplane sign tests (`dot >= 0`).
   * Hyperplane components are md5-derived from the seed
   * ([[hyperplanes]]) and baked into the plan as literals, so the index
   * is reproducible — bit-identical even cross-engine. Returns
   * `(vec_id, table_id, bucket)`.
   */
  def lshBuckets(emb: DataFrame, dim: Int, tables: Int = 16, bits: Int = 5,
                 seed: Long = 42L): DataFrame = {
    // flattened into one matrix evaluated by a single fused expression —
    // tables*bits separate dot expressions ran ~40x slower (plan bloat)
    val planes = hyperplanes(dim, tables, bits, seed)
    val bucketsCol = org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.HyperplaneBuckets(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
        planes, tables, bits, dim))
    emb.select(col("vec_id"), posexplode(bucketsCol))
      .select(col("vec_id"), col("pos").as("table_id"), col("col").as("bucket"))
  }

  /** Above this many centroids the flat plan-literal argmax / probe
    * sort stops being the right per-row shape (`nCentroids ≈ √n` at
    * scale) and the two-level coarse→fine path takes over. */
  val FlatCentroidMax = 64

  /**
   * IVF quantizer assignment: every vector assigned to its
   * max-inner-product centroid, as a plan-literal projection — one
   * pass, no shuffle. Returns `(vec_id, centroid_id, v)`.
   *
   * Up to [[FlatCentroidMax]] centroids this is one fused argmax loop
   * over the whole centroid matrix ([[graft.functions.DotArgmax]] —
   * ties to the lowest cid). Past it, assignment goes two-level
   * ([[graft.functions.DotTopKGrouped]]): the centroids are themselves
   * clustered into ~√nCentroids coarse groups on the driver
   * ([[coarseGroups]]), each row scans the coarse matrix and then only
   * the top-`assignProbe` groups' fine centroids —
   * O((√nCentroids·(1+assignProbe))·dim) per row instead of
   * O(nCentroids·dim), with two bounded reference-object matrices
   * instead of an ever-growing plan literal. (Like any coarse-fine
   * IVF, a vector whose true nearest cell hides in an unprobed coarse
   * group lands in a neighbor cell — the standard trade. How often
   * depends on how clustered the data is: spec-measured 81% exact
   * agreement at assignProbe=4 on a worst-case NEAR-RANDOM 64-dim
   * fixture, rising smoothly to 96% at 8; real embedding corpora have
   * the cluster structure this index assumes.)
   */
  def ivfAssign(emb: DataFrame, centroids: Seq[(Int, Array[Long])],
                assignProbe: Int = 4): DataFrame = {
    val dim = centroids.head._2.length
    val assignExpr =
      if (centroids.length <= FlatCentroidMax) {
        val matrix = centroids.sortBy(_._1).flatMap(_._2).toArray
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.DotArgmax(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
            matrix, centroids.length, dim))
      } else {
        val g = coarseGroups(centroids)
        element_at(org.apache.spark.sql.graftbridge.Bridge.column(
          graft.functions.DotTopKGrouped(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
            g.coarse, g.nCoarse, g.fine, g.offsets, g.cids,
            cProbe = assignProbe, k = 1, dim = dim)), 1)
      }
    emb.withColumn("centroid_id", assignExpr)
      .select(col("vec_id"), col("centroid_id"), col("v"))
  }

  /** Driver-side two-level index over the (metadata-scale) centroid
    * set: ~√n coarse groups from a few deterministic integer Lloyd
    * iterations over the centroids themselves. Arrays are laid out for
    * [[graft.functions.DotTopKGrouped]]: `fine` sorted by group,
    * `offsets` delimiting groups, `cids` mapping positions back to
    * centroid ids. */
  private[graft] case class TwoLevel(coarse: Array[Long], nCoarse: Int,
                                     fine: Array[Long], offsets: Array[Int],
                                     cids: Array[Int])

  private[graft] def coarseGroups(cents: Seq[(Int, Array[Long])]): TwoLevel = {
    val dim = cents.head._2.length
    val sorted = cents.sortBy(_._1)
    val n = sorted.length
    val nSeed = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    def argmaxDot(v: Array[Long], cs: IndexedSeq[Array[Long]]): Int = {
      var best = 0; var bestDot = Long.MinValue
      var j = 0
      while (j < cs.length) {
        var acc = 0L; var i = 0
        while (i < dim) { acc += v(i) * cs(j)(i); i += 1 }
        if (acc > bestDot) { bestDot = acc; best = j }
        j += 1
      }
      best
    }
    // stride seeds over cid order, then 3 truncating-integer Lloyd
    // iterations — all O(nCentroids·√nCentroids·dim) driver math
    var coarse: IndexedSeq[Array[Long]] =
      (0 until nSeed).map(j => sorted(j * n / nSeed)._2)
    var asg: Array[Int] = null
    for (_ <- 0 until 3) {
      asg = sorted.map(c => argmaxDot(c._2, coarse)).toArray
      coarse = coarse.indices.map { j =>
        val members = asg.indices.filter(asg(_) == j)
        if (members.isEmpty) coarse(j)
        else Array.tabulate(dim)(i => members.map(m => sorted(m)._2(i)).sum / members.length)
      }
    }
    val groups = asg.indices.groupBy(asg(_)).toSeq
      .filter(_._2.nonEmpty).sortBy(_._1)
    val keptCoarse = groups.map(g => coarse(g._1))
    val order = groups.flatMap(_._2)
    TwoLevel(
      coarse = keptCoarse.flatten.toArray,
      nCoarse = groups.length,
      fine = order.flatMap(m => sorted(m)._2).toArray,
      offsets = groups.map(_._2.length).scanLeft(0)(_ + _).toArray,
      cids = order.map(m => sorted(m)._1).toArray)
  }

  /**
   * Deterministic, id-distribution-free centroid seeds: the
   * `nCentroids` rows with the smallest `md5(vec_id)` — a uniform
   * hash-order sample needing no assumption of dense or contiguous
   * vec_ids (the old `vec_id % stride` pick under-sampled sparse or
   * skewed id spaces). Plans as TakeOrderedAndProject — a distributed
   * top-n, never a full sort — and collects only the winning
   * `nCentroids` rows (metadata-scale). Centroid ids number the picks
   * in vec_id order, mirrored verbatim by the DuckDB oracle.
   */
  /**
   * Auto-scaled IVF centroid count: `max(16, ceil(√n))` — the standard
   * IVF cell-count rule, so candidate volume per probe stays ~`√n·k`
   * and the per-row centroid scan stays `O(√nCentroids·dim)` on the
   * two-level path. ONE corpus count pays for it per distinct input:
   * the resolved value memoizes on the input's content fingerprint
   * ([[TableMemo.contentKey]], metadata-only), so repeated auto-mode
   * calls on the same corpus — across different operators in one
   * session — re-run zero count jobs; the memoized operators
   * additionally defer resolution past their memo-key lookup (see
   * [[centroidKey]]) so a memo HIT never even fingerprints twice.
   * Un-fingerprintable in-memory inputs still count each time (no safe
   * identity to cache under). NOTE a default-behavior change from the
   * fixed-16 era: every operator taking `nCentroids` treats the
   * default `0` as "resolve via this rule", so default-arg callers on
   * corpora larger than ~256 vectors get more (and different) cells
   * than the old fixed 16 — pass `nCentroids = 16` explicitly to
   * reproduce old results.
   */
  def autoCentroids(emb: DataFrame): Int =
    TableMemo.value("autoCentroids", emb, "")(countAuto(emb))

  /** Count jobs the auto rule has actually run (spec hook: repeated
    * resolution on one fingerprinted corpus must not re-count). */
  private[operators] val autoCountJobs = new java.util.concurrent.atomic.AtomicLong()

  private def countAuto(emb: DataFrame): Int = {
    autoCountJobs.incrementAndGet()
    math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
  }

  /** `nCentroids` as given, or the [[autoCentroids]] rule for the
    * `0`/"auto" sentinel. */
  private[operators] def resolveCentroids(emb: DataFrame, nCentroids: Int): Int =
    if (nCentroids > 0) nCentroids else autoCentroids(emb)

  /** Centroid-count memo-key component WITHOUT forcing resolution:
    * explicit counts key literally; the auto sentinel stays symbolic
    * (`"auto"`) when a content fingerprint pins the corpus — same
    * fingerprint ⇒ same n ⇒ same resolution, so a memo HIT never pays
    * the corpus count — and resolves eagerly only for
    * un-fingerprintable in-memory inputs, where the resolved number is
    * what distinguishes different-sized corpora under one caller key. */
  private def centroidKey(emb: DataFrame, nCentroids: Int,
                          fp: Option[String]): String =
    if (nCentroids > 0) nCentroids.toString
    else if (fp.isDefined) "auto"
    else resolveCentroids(emb, 0).toString

  /**
   * Cell-balance audit: per-cell vector counts under the (optionally
   * Lloyd-refined) centroids — `(centroid_id, n_vecs)`. The
   * distribution's p99/median is THE number to watch when sizing
   * `nCentroids` at scale: balanced cells bound worst-case probe cost
   * and keep the candidate join skew-free (AQE splits what remains).
   */
  def ivfCellSizes(emb: DataFrame, nCentroids: Int = 0,
                   lloydIters: Int = 0): DataFrame = {
    val nc = resolveCentroids(emb, nCentroids)
    val seeds = ivfCentroids(emb, nc)
    val cents = if (lloydIters > 0) ivfRefine(emb, seeds, lloydIters) else seeds
    ivfAssign(emb, cents)
      .groupBy("centroid_id").agg(count(lit(1)).as("n_vecs"))
  }

  /**
   * The `nCentroids` hash-order seed rows — the bottom-`nCentroids` of
   * the corpus by `(md5(vec_id), vec_id)`, a deterministic uniform
   * sample.
   *
   * TRILLION-SCALE SHAPE: a bare `orderBy(md5).limit(nc)` runs as
   * TakeOrderedAndProject — no global sort, but every partition ships
   * its own top-`nc` rows (vectors included) to the driver merge:
   * `partitions × nc` vectors of driver traffic at fleet scale. The
   * HASH-THRESHOLD PREFILTER here cuts that to the survivors alone:
   * md5 prefixes are uniform, so `h < T` with `T ≈ 4·nc/n` keeps
   * ~`4·nc` rows corpus-wide (the auto rule's `nc = √n` needs only
   * `T = 4/nc` — no count job), and the top-k then runs over that
   * sliver. Selection is EXACT, not approximate: if ≥ `nc` rows
   * survive the filter, the global bottom-`nc` all hash below `T` and
   * are among the survivors — the same set the unfiltered top-k picks;
   * when a caller-supplied `nc` far above `√n` undershoots the ladder
   * widens `T` ×16 and rescans (≤ 8 map-side passes to the full-range
   * sentinel, which degrades to the original plan). DRIVER BUDGET:
   * `nc` vectors collected, `min(partitions, survivors) × nc` rows
   * merged — model scale, never corpus scale.
   */
  def ivfCentroids(emb: DataFrame, nCentroids: Int): Seq[(Int, Array[Long])] = {
    val sel = emb.select(col("vec_id"), col("v"),
      md5(col("vec_id").cast("string")).as("h"))
    // lexicographic 8-hex-char prefix threshold; "g" sorts above every
    // hex digest = keep-everything sentinel
    def thresholdHex(frac: Double): String =
      if (frac >= 1.0) "g"
      else f"${math.min(4294967295L, math.max(1L, math.ceil(frac * 4294967296.0).toLong))}%08x"
    var frac = math.min(1.0, 4.0 / math.max(1, nCentroids))
    var picked: Array[org.apache.spark.sql.Row] = null
    while (picked == null) {
      val t = thresholdHex(frac)
      val got = sel.filter(col("h") < lit(t))
        .orderBy(col("h"), col("vec_id")).limit(nCentroids).collect()
      // full rows returned, or the keep-everything pass proved the
      // corpus itself has < nc rows — either way the set is final
      if (got.length >= nCentroids || t == "g") picked = got
      else frac = math.min(1.0, frac * 16)
    }
    picked
      .map(r => (r.getLong(0), r.getSeq[Long](r.fieldIndex("v")).toArray))
      .sortBy(_._1).zipWithIndex
      .map { case ((_, v), i) => (i, v) }.toSeq
  }

  /**
   * Deterministic integer Lloyd refinement of IVF centroids: assign
   * every vector to its argmax-dot centroid, then replace each centroid
   * with the elementwise integer mean of its cell (TRUNCATING division
   * toward zero — JVM `Long./` and DuckDB `//` agree, so the refinement
   * is bit-reproducible in the oracle); an empty cell keeps its old
   * centroid. One distributed pass per iteration: a single groupBy with
   * `dim` map-side-combinable sums — no explode, no extra shuffle
   * shape. Improves cell balance over the raw hash-order seeds, which
   * is what bounds worst-case probe cost at scale.
   */
  def ivfRefine(emb: DataFrame, cents: Seq[(Int, Array[Long])],
                iters: Int = 1): Seq[(Int, Array[Long])] = {
    val dim = cents.head._2.length
    var cs = cents
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(emb, cs)
      val aggs = count(lit(1)).cast("long").as("n") +:
        (0 until dim).map(i => sum(expr(s"v[$i]")).as(s"s$i"))
      val rows = assigned.groupBy("centroid_id").agg(aggs.head, aggs.tail: _*)
        .collect()
      val means = rows.map { r =>
        val cid = r.get(0).asInstanceOf[Number].intValue
        val n = r.getLong(1)
        (cid, Array.tabulate(dim)(i => r.getLong(2 + i) / n))
      }.toMap
      cs = cs.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    }
    cs
  }

  // ---- product quantization (PQ) -------------------------------------

  /** All `m` PQ codes for a row as `array<int>` — L2 argmin per
    * subspace (argmax `2·dot − |c|²`, ties to the LOWEST code id), all
    * integer so the SQL oracle reproduces every assignment. ONE fused
    * codegen expression ([[graft.functions.PqAssign]]); the unfused
    * `m × nCodes` dot/slice spelling bloated the plan ~30× at sf0.1. */
  private def pqCodesCol(books: Array[Array[Array[Long]]]): Column = {
    val m = books.length; val nCodes = books(0).length; val d = books(0)(0).length
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqAssign(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
        books.flatten.flatten, m, nCodes, d))
  }

  /**
   * Product-quantization codebooks: the vector splits into `m`
   * contiguous subspaces of `dim/m` components, each with its own
   * `nCodes`-entry codebook. Seeds are the SAME deterministic
   * hash-order rows [[ivfCentroids]] picks (sliced per subspace);
   * `iters` rounds of integer Lloyd per subspace follow — L2
   * assignment via [[pqCodeExpr]], cell means by truncating division,
   * empty cells keep their previous entry (the [[ivfRefine]] contract,
   * per subspace), so training is bit-reproducible in the oracle. One
   * distributed pass per iteration: a subspace explode (`m` rows per
   * vector) into a single `(sub, code)` aggregate with `dim/m`
   * map-side-combinable sums. Driver holds `m × nCodes × dim/m` longs
   * — metadata scale. Returns `books(sub)(code) = Array[Long]`.
   */
  def pqCodebooks(emb: DataFrame, m: Int = 4, nCodes: Int = 16,
                  iters: Int = 1): Array[Array[Array[Long]]] = {
    val seeds = ivfCentroids(emb, nCodes)
    val dim = seeds.head._2.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val d = dim / m
    var books = Array.tabulate(m)(s => seeds.map(_._2.slice(s * d, s * d + d)).toArray)
    for (_ <- 0 until iters) {
      val subRows = emb.withColumn("codes", pqCodesCol(books))
        .select(explode(array((0 until m).map(s =>
          struct(lit(s).as("sub"), element_at(col("codes"), s + 1).as("code"),
            slice(col("v"), s * d + 1, d).as("sv"))): _*)).as("e"))
        .select(col("e.sub").as("sub"), col("e.code").as("code"), col("e.sv").as("sv"))
      val aggs = count(lit(1)).as("n") +:
        (0 until d).map(i => sum(expr(s"sv[$i]")).as(s"s$i"))
      val rows = subRows.groupBy("sub", "code").agg(aggs.head, aggs.tail: _*).collect()
      val means = rows.map { r =>
        val n = r.getLong(2)
        (r.getInt(0), r.get(1).asInstanceOf[Number].intValue) ->
          Array.tabulate(d)(i => r.getLong(3 + i) / n)
      }.toMap
      books = Array.tabulate(m)(s =>
        Array.tabulate(nCodes)(c => means.getOrElse((s, c), books(s)(c))))
    }
    books
  }

  /** PQ-encode every vector: `(vec_id, c0 … c{m-1})` — `m` small code
    * columns replace a `dim`-long vector (the 128× memory win that lets
    * a corpus-wide ANN index stay resident). Pure per-row projection,
    * shuffle-free. */
  def pqEncode(emb: DataFrame, books: Array[Array[Array[Long]]]): DataFrame =
    emb.withColumn("codes", pqCodesCol(books))
      .select(col("vec_id") +: books.indices.map(s =>
        element_at(col("codes"), s + 1).as(s"c$s")): _*)

  /** The fused per-query ADC partial-dot table
    * ([[graft.functions.PqQueryTable]]) as a column. */
  private def pqQueryTableCol(books: Array[Array[Array[Long]]]): Column = {
    val m = books.length; val nCodes = books(0).length; val d = books(0)(0).length
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.PqQueryTable(
        org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
        books.flatten.flatten, m, nCodes, d))
  }

  /**
   * PQ asymmetric-distance (ADC) top-k: each query computes one
   * `m × nCodes` partial-dot table against the codebooks (broadcast —
   * it is query-scale metadata), then every corpus vector is scored by
   * summing the `m` table entries its codes select; approximate
   * `dot(q,v) ≈ Σ_s dot(q_s, book_s[code_s])`. The scan touches CODES
   * only — never the original vectors — which is the PQ trade: O(m)
   * integer adds per (query, vector) over a 128×-compressed index.
   * This is the linear-ADC primitive; at cluster scale compose it with
   * the IVF probe ([[ivfTopK]]'s cell restriction) for the standard
   * IVFPQ shape. Ties (score desc, nid asc) pinned for the oracle.
   */
  def pqTopK(emb: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             nCodes: Int = 16, iters: Int = 1): DataFrame = {
    val books = pqCodebooks(emb, m, nCodes, iters)
    val codes = emb.withColumn("codes", pqCodesCol(books))
      .select(col("vec_id").as("nid"), posexplode(col("codes")))
      .toDF("nid", "sub", "code")
    val qtab = queries.withColumn("pt", pqQueryTableCol(books))
      .select(col("vec_id").as("qid"), posexplode(col("pt")))
      .select(col("qid"), (col("pos") / nCodes).cast("int").as("sub"),
        (col("pos") % nCodes).cast("int").as("code"), col("col").as("pdot"))
    val scored = codes.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(sum(col("pdot")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "score", "rank")
  }

  /**
   * IVFPQ top-k — the composition trillion-scale ANN serving uses: the
   * IVF probe restricts each query to `nProbe` cells, and ADC scores
   * the survivors from their PQ CODES alone. After index build
   * (assignment + codes, one row per vector), the query path never
   * touches an original vector: per query the broadcast side is
   * `nProbe × m × nCodes` partial-dot rows, the scan side is the
   * probed cells' code rows, and the join carries only small integers.
   * Scan cost ≈ `nProbe/nCentroids` of the corpus × `m` adds per
   * survivor over a ~100×-compressed index — the memory and the
   * candidate restriction compose multiplicatively. Every step stays
   * integer and order-pinned (seed centroids, probe ties cid-desc as
   * [[ivfTopK]], code ties lowest, rank ties nid-asc), so the full
   * composition is oracle-gated.
   */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int = 0, nProbe: Int = 4, m: Int = 4,
                nCodes: Int = 16, pqIters: Int = 1): DataFrame = {
    val cents = ivfCentroids(emb, resolveCentroids(emb, nCentroids))
    val books = pqCodebooks(emb, m, nCodes, pqIters)
    // the serving index: cell id + exploded codes, one (sub, code) row
    // per vector per subspace — vectors are read only at build time
    val index = ivfAssign(emb, cents).withColumn("codes", pqCodesCol(books))
      .select(col("vec_id").as("nid"), col("centroid_id"), posexplode(col("codes")))
      .toDF("nid", "centroid_id", "sub", "code")
    val qtab = queries
      .withColumn("probes", probeList(cents, nProbe))
      .withColumn("pt", pqQueryTableCol(books))
      .select(col("vec_id").as("qid"), explode(col("probes")).as("centroid_id"),
        col("pt"))
      .select(col("qid"), col("centroid_id"), posexplode(col("pt")))
      .select(col("qid"), col("centroid_id"),
        (col("pos") / nCodes).cast("int").as("sub"),
        (col("pos") % nCodes).cast("int").as("code"), col("col").as("pdot"))
    val scored = index.join(broadcast(qtab), Seq("centroid_id", "sub", "code"))
      .filter(col("nid") =!= col("qid"))
      .groupBy("qid", "nid").agg(sum(col("pdot")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "score", "rank")
  }

  /**
   * IVFPQ with the standard exact REFINE stage: [[ivfPqTopK]]'s ADC
   * scan nominates the top-`rerankC` candidates per query (cheap — the
   * compressed index), then ONLY those `rerankC` rows per query are
   * re-scored by exact integer dot against the original vectors and
   * re-ranked. This is how production IVFPQ serving recovers recall the
   * quantization error costs (pure ADC at the gated 16×32 operating
   * point measures recall@10 ≈ 0.49; the refine step lifts it to the
   * IVF probe ceiling): the full-precision vectors are touched for
   * O(queries × rerankC) rows regardless of corpus size, so the scan
   * side still reads codes only. Same shape as [[lshTopK]]'s re-rank.
   * Ties pinned end to end: ADC cut (score desc, nid asc), final rank
   * (dot desc, nid asc) — fully oracle-gated.
   */
  def ivfPqRerankTopK(emb: DataFrame, queries: DataFrame, k: Int,
                      rerankC: Int, nCentroids: Int = 0, nProbe: Int = 4,
                      m: Int = 4, nCodes: Int = 16, pqIters: Int = 1): DataFrame = {
    // the ADC top-rerankC IS the candidate cut, ties already pinned
    val cand = ivfPqTopK(emb, queries, rerankC, nCentroids, nProbe, m,
      nCodes, pqIters).select("qid", "nid")
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("v").as("qv")))
    val scored = cand
      .join(emb.select(col("vec_id").as("nid"), col("v")), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"), dotInt("qv", "v").as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }

  /** Per-row probe list (array of the top-`nProbe` centroid ids by
    * inner product against `v`). Flat up to [[FlatCentroidMax]]
    * centroids: one fused struct sort, ties (dot desc, cid desc) —
    * the shape the 16-centroid oracle gates pin. Past it: two-level
    * [[graft.functions.DotTopKGrouped]] over the top-`nProbe` coarse
    * groups, ties (dot desc, cid asc) — O(√nCentroids-ish) per row. */
  private def probeList(cents: Seq[(Int, Array[Long])], nProbe: Int): Column =
    if (cents.length <= FlatCentroidMax) {
      val scored = cents.map { case (cid, c) =>
        struct(graft.functions.GraftFunctions.dot_long(col("v"), typedLit(c)).as("d"),
          lit(cid).as("cid"))
      }
      transform(slice(sort_array(array(scored: _*), asc = false), 1, nProbe),
        p => p.getField("cid"))
    } else {
      val g = coarseGroups(cents)
      val dim = cents.head._2.length
      org.apache.spark.sql.graftbridge.Bridge.column(
        graft.functions.DotTopKGrouped(
          org.apache.spark.sql.graftbridge.Bridge.expression(col("v")),
          g.coarse, g.nCoarse, g.fine, g.offsets, g.cids,
          cProbe = math.max(2, nProbe), k = nProbe, dim = dim))
    }

  /**
   * IVF approximate top-k: probe the `nProbe` nearest centroids per
   * query, rerank candidates exactly. Scan cost ≈ nProbe/nCentroids of
   * the table — the standard ANN trade (recall measured in
   * `SimilaritySpec`). `lloydIters` > 0 refines the hash-order seeds
   * with deterministic integer k-means ([[ivfRefine]]).
   */
  def ivfTopK(emb: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 0, nProbe: Int = 4,
              lloydIters: Int = 0): DataFrame = {
    val seeds = ivfCentroids(emb, resolveCentroids(emb, nCentroids))
    val cents = if (lloydIters > 0) ivfRefine(emb, seeds, lloydIters) else seeds
    ivfServe(ivfAssign(emb, cents), probeBatch(queries, cents, nProbe), k)
  }

  /** One IVF serve's query batch, collected ONCE: a `(qid, qv,
    * centroid_id)` row per query and probe cell. Every consumer of the
    * batch in a serve — [[VectorStore]]'s probe-cell prefilter and the
    * probe join — reads these same rows, so a non-deterministic query
    * frame cannot make them disagree. */
  private[operators] final case class ProbeBatch(probes: Seq[Row], schema: StructType) {

    /** The distinct probe cells. */
    def cells: Seq[Int] = probes.map(_.getInt(2)).distinct.sorted

    /** Rough size of the batch as a plan literal. */
    def bytes: Long = probes.map(r => 16L + Option(r.getSeq[Any](1)).fold(0)(_.size) * 8L).sum

    /** `cell → [(qid, qv)]` as one map literal, duplicates kept. */
    def byCell: Column = {
      val entry = StructType(schema.fields.take(2))
      val m = probes.groupBy(_.getInt(2)).map { case (c, rs) => c -> rs.map(r => Row(r.get(0), r.get(1))) }
      org.apache.spark.sql.graftbridge.Bridge.column(Literal.create(m,
        MapType(IntegerType, ArrayType(entry, containsNull = false), valueContainsNull = false)))
    }
  }

  /** [[ProbeBatch]] of `queries` (`vec_id`, `v`). The probe lists are
    * computed in the collected projection; over a local relation it
    * folds at optimization, so a local batch costs no Spark job. A null
    * query vector or probe list contributes no rows. */
  private[operators] def probeBatch(queries: DataFrame, cents: Seq[(Int, Array[Long])],
                                    nProbe: Int): ProbeBatch = {
    val q = queries.select(col("vec_id").as("qid"), col("v").as("qv"),
      probeList(cents, nProbe).as("probes"))
    val probes = q.collect().toSeq.flatMap { r =>
      if (r.isNullAt(1)) Nil
      else Option(r.getSeq[Int](2)).toSeq.flatten.map(c => Row(r.get(0), r.get(1), c))
    }
    ProbeBatch(probes, StructType(q.schema.fields.take(2) :+
      StructField("centroid_id", IntegerType, nullable = false)))
  }

  /** Above this many bytes a probe batch is not inlined as a plan
    * literal ([[ProbeBatch.byCell]]) — every task would carry it — and
    * the probe rows broadcast instead. */
  private[operators] val InlineProbeBytes = 64L << 10

  /** The shared IVF serve core over an already-ASSIGNED corpus —
    * [[ivfTopK]]/[[ivfFilteredTopK]] build the assignment on the fly;
    * [[VectorStore]] replays this exact plan over its stored one, so
    * store-served results are bit-equal by construction. */
  private[operators] def ivfServe(assigned: DataFrame, batch: ProbeBatch, k: Int): DataFrame = {
    val probed =
      if (batch.bytes <= InlineProbeBytes)
        // the batch as a map literal exploded over the candidates: no
        // broadcast exchange. explode_outer, because a generator's
        // inferred not-null filter is pushed below an on-the-fly
        // assignment and would run its argmax twice; a row in a cell no
        // query probes gets a null qid, which the self-match filter drops
        assigned.select(col("vec_id"), col("v"),
            explode_outer(batch.byCell(col("centroid_id"))).as("q"))
          .select(col("vec_id"), col("v"), col("q.qid").as("qid"), col("q.qv").as("qv"))
      else // the same collected rows, never a re-read of the query frame
        assigned.join(broadcast(assigned.sparkSession.createDataFrame(
          batch.probes.asJava, batch.schema)), Seq("centroid_id"))
    // (qid, nid) is unique by construction — every neighbor sits in
    // exactly one cell and a query's probe list is distinct — so no
    // dedup pass is needed between the join and the rank
    val scoredCand = probed
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), dotInt("qv", "v").as("dot"))
    // rank via the window, NOT the bounded collectTopK aggregate: the
    // aggregate spelling (≤ k rows per query per map partition through
    // the exchange) was tried in r19 and measured +0.3–0.7 s per ann
    // key at bench scale — ObjectHashAggregate breaks the codegen span
    // and the probed candidate set is small (nProbe/nCentroids of the
    // corpus), so the window's single tiny exchange wins empirically.
    // A store serve whose probed row groups fit the read budget has no
    // exchange at all: its scan runs as one task (SmallStoreReads).
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    scoredCand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }

  /**
   * FILTERED ANN: [[ivfTopK]] under a metadata predicate over the
   * corpus side — "nearest documents WHERE lang = 'en' AND license =
   * 'permissive'", the most-requested production vector-search shape.
   * The index (centroids + cell assignment) is built on the FULL
   * corpus, so one shared index serves every predicate; the predicate
   * is applied to the ASSIGNED table BEFORE the probe join — i.e.
   * pushed into the candidate scan, the pre-filter strategy. Catalyst
   * pushes simple predicates through to the Parquet scan of a stored
   * assignment, so a selective filter also prunes I/O.
   *
   * Recall note: pre-filtering keeps the probe list unchanged, so a
   * HIGHLY selective predicate can empty the probed cells while
   * matches exist in unprobed ones — raise `nProbe` with selectivity
   * (the standard filtered-search guidance; post-filtering over-fetch
   * is the alternative trade, composable as `ivfTopK(...).filter` with
   * a larger k).
   */
  def ivfFilteredTopK(emb: DataFrame, queries: DataFrame, k: Int,
                      pred: Column, nCentroids: Int = 0, nProbe: Int = 4,
                      lloydIters: Int = 0): DataFrame = {
    val seeds = ivfCentroids(emb, resolveCentroids(emb, nCentroids))
    val cents = if (lloydIters > 0) ivfRefine(emb, seeds, lloydIters) else seeds
    ivfServe(ivfAssign(emb, cents).filter(pred), probeBatch(queries, cents, nProbe), k)
  }

  /** [[ivfTopK]] over a CALLER-SUPPLIED centroid set — the from-scratch
    * twin of serving a [[VectorStore]] whose centroids were trained on
    * a prior corpus ([[VectorStore.appendBatch]] keeps the existing
    * centroids; new vectors only extend the assignment), and the
    * incremental-index serve shape generally: assignment + probe + exact
    * re-rank over `emb`, centroids fixed. */
  def ivfTopKWith(emb: DataFrame, cents: Seq[(Int, Array[Long])],
                  queries: DataFrame, k: Int, nProbe: Int = 4): DataFrame =
    ivfServe(ivfAssign(emb, cents), probeBatch(queries, cents, nProbe), k)

  /** [[ivfFilteredTopK]] over a caller-supplied centroid set (see
    * [[ivfTopKWith]]) — the from-scratch twin of a mutated
    * [[VectorStore]]: a takedown is exactly a `vec_id`-exclusion
    * predicate over the assignment. */
  def ivfFilteredTopKWith(emb: DataFrame, cents: Seq[(Int, Array[Long])],
                          queries: DataFrame, k: Int, pred: Column,
                          nProbe: Int = 4): DataFrame =
    ivfServe(ivfAssign(emb, cents).filter(pred), probeBatch(queries, cents, nProbe), k)

  /**
   * IVF-blocked kNN JOIN: the k nearest neighbors (by exact integer
   * inner product) for EVERY vector in the table — the primitive behind
   * semantic dedup, diversity filtering, and embedding-space clustering
   * of a whole corpus. Unlike [[ivfTopK]] the query side is the table
   * itself, so nothing is broadcast: per-vector probe lists (top
   * `nProbe` centroids, computed by the same plan-literal centroid
   * dots) equi-join the cell assignment on `centroid_id`, candidates
   * are re-ranked exactly, and a per-query window keeps k.
   *
   * Scale shape: ONE shuffle on `centroid_id` (candidate generation) +
   * one on `qid` (rank). Candidate volume is `nProbe/nCentroids` of the
   * all-pairs square — the IVF trade; at 100 TB raise `nCentroids` to
   * ~sqrt(n) (cells stay balanced via [[ivfRefine]]), at which point
   * the per-row centroid scan switches itself to the two-level
   * coarse→fine path (see [[ivfAssign]]/[[FlatCentroidMax]]) so
   * per-row work stays ~O(√nCentroids·dim). Cell skew is the thing to
   * watch: refined centroids bound it, and AQE's skew-join split
   * handles residual hot cells.
   */
  def knnJoin(emb: DataFrame, k: Int, nCentroids: Int = 0, nProbe: Int = 4,
              lloydIters: Int = 0): DataFrame = {
    val seeds = ivfCentroids(emb, resolveCentroids(emb, nCentroids))
    val cents = if (lloydIters > 0) ivfRefine(emb, seeds, lloydIters) else seeds
    val assigned = ivfAssign(emb, cents)
    val qProbes = emb
      .withColumn("probes", probeList(cents, nProbe))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(col("probes")).as("centroid_id"))
    val scoredCand = assigned
      .join(qProbes, Seq("centroid_id"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid"), dotInt("qv", "v").as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    scoredCand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }

  // per-JVM memo of materialized kNN-join edge tables, keyed by corpus
  // key + parameters — see the TableMemo scaladoc for the staleness
  // contract (corpusKey must change when the corpus does)
  private[graft] val sharedJoins = new TableMemo("graft-knn-")

  /**
   * [[knnJoin]] with per-process memoization to a parquet table — the
   * "ANN-join once, consume many times" shape of a real pipeline: the
   * IVF-blocked join is the expensive step, and each downstream
   * consumer (semantic dedup, clustering, recommendation exports)
   * should read the materialized edge table (corpus×k rows, four
   * columns) instead of recomputing the join. The memo key carries the
   * input's file-listing fingerprint ([[TableMemo.keyOf]]) so a
   * rewritten corpus invalidates the entry; see [[TableMemo]].
   */
  def sharedKnnJoin(emb: DataFrame, corpusKey: String, k: Int,
                    nCentroids: Int = 0, nProbe: Int = 4): DataFrame = {
    val fp = TableMemo.contentKey(emb)
    sharedKnnJoinKeyed(emb, s"$corpusKey|${fp.getOrElse("nofiles")}", k,
      nCentroids, centroidKey(emb, nCentroids, fp), nProbe)
  }

  /** [[sharedKnnJoin]] with the content-fingerprinted key component
    * already computed — so a caller that derived the fingerprint for
    * its own memo (e.g. [[sharedSemanticClusters]]) doesn't pay the
    * plan-optimization + file-listing pass a second time. `ncKey` is
    * the [[centroidKey]] component; the sentinel `nCentroids` resolves
    * inside the write closure, i.e. only on a memo MISS. */
  private def sharedKnnJoinKeyed(emb: DataFrame, keyedCorpus: String, k: Int,
                                 nCentroids: Int, ncKey: String,
                                 nProbe: Int): DataFrame = {
    val key = s"$keyedCorpus|k=$k|c=$ncKey|p=$nProbe"
    val path = sharedJoins.getOrCreate(key) { dir =>
      knnJoin(emb, k, nCentroids, nProbe).write.mode("overwrite").parquet(dir)
    }
    ParquetFooters.readParquet(emb.sparkSession, path)
  }

  // per-JVM memo of materialized semantic-cluster tables — the same
  // cluster-once-consume-many shape Dedup.sharedClusters gives text
  // (dedup gate + keeper selection both read the ONE resolved table)
  private[graft] val sharedSemClusters = new TableMemo("graft-semclus-")

  /** [[semanticClustersFrom]] over the memoized kNN-join edge table,
    * itself memoized: the threshold filter + connected-components
    * resolution runs once per (corpus, params) and every consumer reads
    * the written table. Content-keyed like the other memos. */
  def sharedSemanticClusters(emb: DataFrame, corpusKey: String, k: Int,
                             nCentroids: Int, nProbe: Int,
                             minDot: Long): DataFrame = {
    // fingerprint once; the edge-table memo below reuses it. The auto
    // centroid count stays SYMBOLIC in both keys (centroidKey) so a
    // memo hit is metadata-only — no corpus count, no file scan.
    val fp = TableMemo.contentKey(emb)
    val ncKey = centroidKey(emb, nCentroids, fp)
    val keyedCorpus = s"$corpusKey|${fp.getOrElse("nofiles")}"
    val key = s"$keyedCorpus|k=$k|c=$ncKey|p=$nProbe|d=$minDot"
    val path = sharedSemClusters.getOrCreate(key) { dir =>
      semanticClustersFrom(
        sharedKnnJoinKeyed(emb, keyedCorpus, k, nCentroids, ncKey, nProbe),
        minDot)
        .write.mode("overwrite").parquet(dir)
    }
    ParquetFooters.readParquet(emb.sparkSession, path)
  }

  /** [[semanticClusters]] over a precomputed kNN-join edge table (see
    * [[sharedKnnJoin]]) — threshold filter + connected components only. */
  def semanticClustersFrom(edges: DataFrame, minDot: Long): DataFrame =
    Dedup.connectedComponents(
      edges.filter(col("dot") >= minDot && col("qid") < col("nid"))
        .select(col("qid").as("id_a"), col("nid").as("id_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_id"))

  /**
   * Semantic (embedding-space) deduplication: cluster vectors whose
   * inner product exceeds `minDot` along kNN-join edges — the
   * embedding-side twin of the text pipeline's LSH→CC resolution, and
   * the standard way a training corpus drops paraphrase-level
   * near-duplicates that share no n-grams. Composition:
   * [[knnJoin]] (IVF-blocked, no broadcast) → threshold filter →
   * [[Dedup.connectedComponents]] (O(log n) rounds). Returns
   * `(vec_id, cluster_id)` for every clustered vector, cluster_id =
   * the component's minimum vec_id. Recall is the IVF probe curve's
   * (a pair split across unprobed cells is missed — raise nProbe /
   * nCentroids to trade); precision is exact (dots are exact
   * integers).
   */
  def semanticClusters(emb: DataFrame, k: Int, nCentroids: Int, nProbe: Int,
                       minDot: Long): DataFrame =
    semanticClustersFrom(knnJoin(emb, k, nCentroids, nProbe), minDot)

  // per-JVM memo of materialized prior-corpus IVF assignment tables —
  // the reusable index artifact of the incremental path
  private[graft] val sharedAssigns = new TableMemo("graft-ivfasg-")
  // the centroid PICK is also memoized (driver-side, nCentroids rows):
  // it is metadata-scale to hold but corpus-scale to COMPUTE (a top-n
  // over the whole prior corpus) — without this every incremental call
  // (every streaming microbatch) re-scans the prior corpus just to
  // re-derive identical centroids
  private[graft] val sharedCentroids =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(Int, Array[Long])]]()

  /**
   * Incremental (cross-run) semantic dedup — the embedding-space twin
   * of [[Dedup.incrementalKeepers]]: yesterday's embedding corpus is
   * already deduplicated and shipped with its IVF index; today's batch
   * must be deduplicated AGAINST it without re-joining the prior corpus
   * to itself. A new vector survives iff no prior vector in its probed
   * IVF cells has inner product ≥ `minDot`. Composition:
   *
   *   1. centroids come from the PRIOR corpus ([[ivfCentroids]] —
   *      metadata-scale, recomputed deterministically); the prior
   *      corpus's cell assignment is materialized once per process
   *      ([[TableMemo]], same staleness contract as [[sharedKnnJoin]])
   *      — the shipped-index artifact a nightly pipeline reads back;
   *   2. the NEW batch computes per-vector probe lists against those
   *      centroids and equality-joins the prior assignment on
   *      `centroid_id` — new×prior only, NEVER prior×prior, so nightly
   *      cost scales with the batch, not the corpus;
   *   3. exact integer re-rank; batch vectors with any qualifying prior
   *      neighbor are dropped.
   *
   * Returns the surviving new `vec_id`s. Recall is the IVF probe
   * curve's, like [[semanticClusters]]; precision is exact. Within-
   * batch duplicates are [[semanticClusters]]' job on the batch alone —
   * the same split [[Dedup.nightly]] makes for text.
   */
  def semanticIncremental(newEmb: DataFrame, priorEmb: DataFrame,
                          priorKey: String, minDot: Long,
                          nCentroids: Int = 0, nProbe: Int = 4): DataFrame = {
    // auto-resolve against the PRIOR corpus (the indexed side) — but
    // only on a centroid-memo MISS: the symbolic key keeps the per-
    // microbatch hit path free of the corpus count
    val fp = TableMemo.contentKey(priorEmb)
    val asgKey =
      s"$priorKey|${fp.getOrElse("nofiles")}|c=${centroidKey(priorEmb, nCentroids, fp)}"
    val cents = sharedCentroids.computeIfAbsent(asgKey,
      _ => ivfCentroids(priorEmb, resolveCentroids(priorEmb, nCentroids)))
    // first night: no prior corpus, nothing to collide with — the whole
    // batch survives (ivfAssign on zero centroids would throw)
    if (cents.isEmpty) return newEmb.select("vec_id")
    val asgPath = sharedAssigns.getOrCreate(asgKey) { dir =>
      ivfAssign(priorEmb, cents).write.mode("overwrite").parquet(dir)
    }
    val priorAssigned = ParquetFooters.readParquet(priorEmb.sparkSession, asgPath)
    val qProbes = newEmb
      .withColumn("probes", probeList(cents, nProbe))
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        explode(col("probes")).as("centroid_id"))
    val losers = priorAssigned
      .join(qProbes, Seq("centroid_id"))
      .select(col("qid"), dotInt("qv", "v").as("dot"))
      .filter(col("dot") >= minDot)
      .select(col("qid").as("vec_id")).distinct()
    newEmb.select("vec_id").join(losers, Seq("vec_id"), "left_anti")
  }

  /**
   * Diversity-balanced sampling — the selection step after semantic
   * dedup in a SemDeDup-style pipeline: cap every semantic neighborhood
   * (IVF cell) at `perCell` members, keeping each cell's best-scoring
   * vectors, so one dense topic cannot dominate the training mix the
   * way a pure quality-ranked cut would let it. Returns
   * `(vec_id, centroid_id, score, rank)`, rank 1..perCell within the
   * cell by (score desc, vec_id asc).
   *
   * Scale shape: cell assignment is the per-row plan-literal projection
   * ([[ivfAssign]] — two-level past [[FlatCentroidMax]]); the per-cell
   * cap is a bounded `CollectTopK` AGGREGATE (map-side combinable
   * priority queues — each partition reduces a cell to ≤ perCell
   * structs BEFORE the one shuffle on `centroid_id`), not a window — a
   * mega-cell never becomes one wide sorted partition, the same trade
   * [[Curation.sourceCap]] makes for sources.
   */
  def diversitySample(emb: DataFrame, scores: DataFrame, perCell: Int,
                      nCentroids: Int = 0): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val cents = ivfCentroids(emb, resolveCentroids(emb, nCentroids))
    val scored = ivfAssign(emb, cents).join(scores, "vec_id")
    val topN = Bridge.collectTopK(
      Bridge.expression(struct((-col("score")).as("ns"), col("vec_id").as("vec_id"))),
      perCell, reverse = true)
    scored.groupBy("centroid_id").agg(sort_array(topN).as("ts"))
      .select(col("centroid_id"), posexplode(col("ts")))
      .select(col("col.vec_id").as("vec_id"),
        col("centroid_id").cast("int").as("centroid_id"),
        (-col("col.ns")).as("score"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /**
   * Approximate top-k: LSH candidate generation (same bucket in ≥1
   * table) + exact integer-dot re-rank. The scale path for ANN when the
   * table no longer admits a full scan per query.
   */
  def lshTopK(emb: DataFrame, queries: DataFrame, dim: Int, k: Int,
              tables: Int = 16, bits: Int = 5, seed: Long = 42L,
              queriesWithinEmb: Option[Column] = None): DataFrame = {
    val buckets = lshBuckets(emb, dim, tables, bits, seed)
    // when the query set is a predicate over the indexed table itself,
    // reuse the bucket table instead of re-hashing (halves the codegen
    // and scan work — the common "self-join ANN" shape)
    val qb = queriesWithinEmb match {
      case Some(pred) => buckets.filter(pred).withColumnRenamed("vec_id", "qid")
      case None => lshBuckets(queries, dim, tables, bits, seed)
        .withColumnRenamed("vec_id", "qid")
    }
    val candidates = buckets.join(qb, Seq("table_id", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nid")).distinct()
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("v").as("qv")))
    val scored = candidates
      .join(emb.select(col("vec_id").as("nid"), col("v")), "nid")
      .join(q, "qid")
      .select(col("qid"), col("nid"), dotInt("qv", "v").as("dot"))
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "nid", "dot", "rank")
  }
}
