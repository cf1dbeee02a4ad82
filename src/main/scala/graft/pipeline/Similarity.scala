package graft.pipeline

import graft.ops.Caches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — the QUERY side is broadcast
  * (queries are few), so the big side streams once with no shuffle
  * until the final per-query top-k.
  *
  * Scale paths, four index families: random-hyperplane LSH buckets
  * ([[lshTopK]] — stateless, multi-probe), IVF cells ([[ivfTopK]] — a
  * trained k-means quantizer), a JL random-projection sketch
  * ([[rpTopK]]) and product-quantized codes ([[pqTopK]]), plus the
  * SQ8-compressed exact scan ([[sq8TopK]]). Each is
  * candidate-then-verify over [[Candidates]]: the index makes the
  * candidates, exact cosine ranks them, and one per-query top-k (or,
  * behind a coarse score, one exact re-rank) finishes every family.
  */
object Similarity {

  /** Kept for callers that predate the one registry, [[Caches]]. */
  @deprecated("use graft.ops.Caches.releaseCaches()", "0.1.0")
  def releaseCaches(): Unit = Caches.releaseCaches()

  /** Partition a COMPUTE-DENSE frame by compute, not by input bytes.
    * Dense numeric/text corpora pack small on disk (200k embeddings ≈
    * one 51 MB parquet split), so byte-based splitting hands a whole
    * expansion stage — pair joins, shingle explodes, k×dim argmin
    * scans — to one task while the other cores idle; the sf10 probe
    * measured exactly that (single-task 4M-pair joins). A no-op when
    * the source already splits (the many-file 100 TB case). */
  private[graft] def computeParallel(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // plan-shape gate first: `.rdd` under AQE materializes every query
    // stage of an exchange-bearing plan (a full throwaway execution —
    // measured as a 2+ s "rdd at Similarity.scala" job inside
    // q_dedup_minhash_inc) just to read a partition count. A plan that
    // already shuffles is distributed at the session's shuffle width,
    // so only exchange-free (scan/narrow) plans probe their splits.
    if (graft.ops.Caches.hasExchange(df)) df
    else if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }

  /** dot product at pair-join scale — delegates to the native
    * [[graft.functions.DotProduct]] codegen expression (a tight
    * generated loop; HOF folds evaluate interpreted and dim-unrolled
    * getItem trees overflow codegen's method limits — see
    * [[graft.functions.VectorExprs]]); handles any length. */
  def dotFixed(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  /** Cosine over the RAW arrays: Σ aᵢbᵢ / (‖a‖‖b‖) — DuckDB's
    * list_cosine_similarity formula via the native
    * [[graft.functions.CosineSimilarity]] expression. No normalized
    * intermediate array is built (under projection collapse every
    * getItem over a `transform(...)` array re-evaluates the whole
    * interpreted HOF — measured 10-30× slowdowns on pair joins). */
  def cosineFixed(a: Column, b: Column): Column =
    graft.functions.VectorExprs.cosine(a, b)

  /** l2-normalize (as double), so cosine == dot. The norm runs through
    * the native dot expression — an `aggregate` HOF inside the per-
    * element lambda would re-evaluate the whole fold per element
    * (O(dim²) interpreted; measured seconds per 1k rows at dim 64). */
  def normalized(a: Column): Column = {
    val nrm = sqrt(graft.functions.VectorExprs.dot(a, a))
    transform(a, x => x.cast("double") / nrm)
  }

  /** MATRYOSHKA truncation (Kusupati et al. 2022): keep the first `d`
    * dimensions and L2-renormalize — the storage/latency lever for
    * embeddings trained matryoshka-style, where every prefix is
    * itself a valid (coarser) embedding. A 64→16 cut is a 4× smaller
    * ANN index scan with mildly degraded recall; q_embed_truncate
    * grounds exactly that trade against the full-dim ranking.
    * In-row slice + native-dot norm, zero shuffle; a zero prefix
    * stays zero instead of dividing by 0. */
  def truncateEmbeddings(emb: DataFrame, d: Int,
                         vecCol: String = "embedding"): DataFrame = {
    require(d >= 1, s"d >= 1: $d")
    val t = slice(col(vecCol), 1, d)
    // reuse the one normalization implementation (oracle-parity-
    // sensitive arithmetic lives in exactly one place)
    emb.withColumn(vecCol,
      when(sqrt(graft.functions.VectorExprs.dot(t, t)) > 0, normalized(t))
        .otherwise(transform(t, x => x.cast("double"))))
  }

  /** Per-group CENTROID DISTANCE — the embedding-space outlier signal
    * (mislabeled / noisy / off-distribution rows sit far from their
    * group's mean; the filter SemDeDup-style pipelines run before
    * per-cluster dedup). Two stages, both group-count-bounded:
    *   1. centroids: posexplode to (group, dim, value) → avg — ONE
    *      shuffle keyed (group, dim), the standard distributed
    *      array-mean shape — then re-assemble each centroid array
    *      (group-count × dim rows, tiny);
    *   2. broadcast the centroids back onto the scan and compute the
    *      L2 distance IN-ROW (zip_with + native dot-style fold).
    * Returns the input plus a `centroid_dist` column. */
  def centroidDistance(emb: DataFrame, groupCol: String = "label",
                       vecCol: String = "embedding"): DataFrame = {
    val cent = emb.select(col(groupCol),
        posexplode(col(vecCol)).as(Seq("__d", "__v")))
      .groupBy(col(groupCol), col("__d"))
      .agg(avg(col("__v")).as("__m"))
      .groupBy(col(groupCol))
      .agg(array_sort(collect_list(struct(col("__d"), col("__m"))))
        .as("__dm"))
      .select(col(groupCol),
        transform(col("__dm"), x => x.getField("__m")).as("__cent"))
    val diff = zip_with(col(vecCol), col("__cent"),
      (x, c) => (x.cast("double") - c) * (x.cast("double") - c))
    emb.join(broadcast(cent), Seq(groupCol))
      .withColumn("centroid_dist",
        sqrt(aggregate(diff, lit(0.0d), _ + _)))
      .drop("__cent")
  }

  /** Brute-force cosine top-k: for each query vector (small set,
    * broadcast), the k nearest among all embeddings. Returns
    * (query_id, rank, neighbor_id, cosine). */
  def cosineTopK(emb: DataFrame, queryIds: Seq[Long],
                 k: Int, roundDp: Int = -1): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val queries = Candidates.queries(base, queryIds, col("embedding").as("qe"))
    // roundDp >= 0 rounds the cosine BEFORE ranking so a last-ulp libm
    // divergence vs an oracle that recomputes the same cosine can't
    // flip near-tied ranks — real value gaps are >= 1e-8, libm noise
    // <= 1e-13, so 12 dp separates them (q_embed_outliers discipline).
    val rawCos = cosineFixed(col("embedding"), col("qe"))
    val cosExpr = if (roundDp >= 0) round(rawCos, roundDp) else rawCos
    val scored = base.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosExpr.as("cosine"))
    Candidates.topK(scored, k)
  }

  /** Per-plane agreement probability for a pair at cosine `c`:
    * p = 1 − θ/π (Goemans–Williamson). The whole (k, L) sizing theory
    * below rides on it. */
  private def planeAgree(cos: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, cos))) / math.Pi

  /** Largest plane count k whose L-table scheme still clears `target`
    * recall for pairs at cosine `minCos`, optionally crediting the
    * Hamming-1 multiprobe ball (the query path probes every one-bit
    * flip, so per-table candidate probability is
    * p^k + k·p^(k−1)·(1−p) instead of p^k). This is the RECALL
    * FEASIBILITY BOUND of hyperplane LSH: growing k past it makes the
    * index fast but blind — at loose thresholds (τ≈0.4, p≈0.66) the
    * bound is k≈4 for 8 tables, which is WHY the loose-τ demo cannot
    * be made sub-quadratic by bucketing alone (work at fixed recall is
    * Θ(n^(1+ρ)), ρ = ln(1/p₁)/ln(1/p₂) — Indyk–Motwani); at the
    * production near-dup threshold (τ≥0.9, p≈0.86) it sits at k≈12+
    * and the same corpus buckets ~250× harder.
    *
    * The default target is 0.7, deliberately at the model's WORST
    * CASE (every true pair at exactly cosine `minCos`); real pair
    * sets sit above the threshold, so delivered recall runs higher —
    * the historical (4 planes, 8 tables) τ=0.4 shape models at 0.71
    * and measures 0.81 on the sf0.01 fixtures (EngineSpec). */
  private[pipeline] def recallFeasibleK(minCos: Double, tables: Int,
                                        multiprobe: Boolean,
                                        target: Double = 0.7): Int = {
    val p = planeAgree(minCos)
    val need = 1.0 - math.pow(1.0 - target, 1.0 / tables)
    def perTable(k: Int): Double =
      if (multiprobe) math.pow(p, k) + k * math.pow(p, k - 1) * (1 - p)
      else math.pow(p, k)
    (1 to 48).takeWhile(perTable(_) >= need).lastOption.getOrElse(1)
  }

  /** Corpus-adaptive plane count: enough planes to hold per-bucket
    * occupancy near `targetBucket` rows (bucketed work stays LINEAR in
    * the corpus: fixed k means collision probability 2^-k is a
    * CONSTANT, so candidate volume grows quadratically — measured at
    * the third-decade embeddings probe: 5M vectors under k=4 spent
    * 808 s verifying bucket pairs), capped by the recall-feasibility
    * bound above (a fast index that misses its recall target is not an
    * index). Floor 4 keeps every gated-sf shape bit-identical. */
  private[pipeline] def autoPlanes(n: Long, targetBucket: Long,
                                   minCos: Double, tables: Int,
                                   multiprobe: Boolean): Int = {
    val corpusK = math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
    math.max(1, math.min(corpusK,
      recallFeasibleK(minCos, tables, multiprobe)))
  }

  /** Theory-true (k, L) sizing for a recall target: k is the
    * corpus-ideal plane count (bounded bucket occupancy → candidate
    * work stays Θ(n·targetBucket·L)), and L is the table count the
    * recall demands at that k — L = ⌈ln(1−R)/ln(1−p₁^k)⌉, the inverse
    * of 1−(1−p₁^k)^L ≥ R. This is the Indyk–Motwani shape: at fixed
    * recall, total work grows as n^(1+ρ) through L, and no bucketing
    * choice beats that exponent — the sizing just keeps the engine ON
    * the theory curve instead of the quadratic fixed-k curve. L is
    * capped (each table is a written copy of the index at 100 TB);
    * k steps down until the cap holds. */
  private[pipeline] def autoKL(n: Long, targetBucket: Long, minCos: Double,
                               target: Double = 0.7,
                               maxTables: Int = 64): (Int, Int) = {
    val p1 = planeAgree(minCos)
    def tablesFor(k: Int): Int = {
      val hit = math.pow(p1, k)
      if (hit >= target) 1
      else math.ceil(math.log(1 - target) / math.log(1 - hit)).toInt
    }
    var k = math.max(4, math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBucket)) / math.log(2)).toInt)
    while (k > 1 && tablesFor(k) > maxTables) k -= 1
    (k, math.max(1, tablesFor(k)))
  }

  /** Deterministic random hyperplanes (seeded per table — no trained
    * state to ship). */
  private def planes(table: Int, numPlanes: Int, dim: Int): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(42L + table * 7919L)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Multi-table LSH buckets: one row per (vector, table) with the
    * table's sign-bit bucket id. Classic (k, L) cosine LSH: k =
    * `numPlanes` sign bits per table (bucket granularity ≙ scan
    * reduction 2^k), L = `tables` independent tables unioned to
    * recover recall — P(candidate) = 1 − (1 − p^k)^L for per-plane
    * agreement p = 1 − θ/π. One table with many planes has near-zero
    * recall on weakly-clustered embeddings (measured 0.0 recall@5 on
    * the synthetic fixtures, whose nearest neighbors sit at cosine
    * ≈ 0.35); the L-table union is what makes hyperplane LSH usable. */
  def lshBuckets(emb: DataFrame, numPlanes: Int, dim: Int,
                 tables: Int = 1): DataFrame = {
    // ALL tables×planes signatures in ONE native expression
    // ([[graft.functions.LshSignatures]]): per-plane vec_dot columns
    // were one generated 64-iteration loop EACH, and past ~10 of them
    // the inlined whole-stage method exceeds the JIT's compile limit —
    // the projection silently runs interpreted (measured 100× off
    // linear at 56 dots, the very first corpus-adaptive sizing). The
    // plane matrix rides as a single reference object; posexplode
    // yields (table = array position, bucket = signature), exactly
    // the historical (table, bucket) pairs bit-for-bit.
    val mat: Array[Array[Double]] = (0 until tables).iterator
      .flatMap(t => planes(t, numPlanes, dim)).map(_.toArray).toArray
    val sigs = graft.functions.VectorExprs.lshSignatures(
      col("embedding"), mat, tables, numPlanes)
    // compute-dense hashing (see computeParallel: a single-split
    // corpus would hash in one task)
    computeParallel(emb)
      .select(col("*"), posexplode(sigs).as(Seq("table", "bucket")))
  }

  /** Bucketed ANN top-k: exact cosine ranking restricted to the union
    * of each query's buckets across L tables. At 100 TB the bucketed
    * side is written bucketed-by (table, bucket) so a query probes
    * L partitions instead of scanning the corpus.
    *
    * `probes` > 1 enables MULTI-PROBE (Lv et al., VLDB'07): each query
    * additionally probes the buckets at Hamming distance 1 in its
    * sign-bit code (flip one plane). A near neighbor that lands on the
    * wrong side of ONE hyperplane is recovered without another table —
    * probing 1+k buckets per table buys roughly the recall of several
    * extra tables at zero index-space cost (the big lever when the
    * index is written storage: L tables = L copies of the corpus).
    *
    * The plane count is sized from the corpus via [[autoPlanes]]:
    * per-bucket occupancy targets ~2048 rows so candidate work stays
    * linear in n, capped by the recall-feasibility bound at 0.35
    * contrast (the synthetic corpus's exact-top-5 cosine — the
    * adversarial low-contrast case). `probes = 0` probes the full
    * Hamming-1 ball (k+1 buckets per table, the recall the
    * feasibility model credits). At the gated
    * sfs (≤5k vectors) auto resolves to the historical (4 planes,
    * 5 probes) exactly. */
  def lshTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, dim: Int = 64,
              tables: Int = 6, probes: Int = 0): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val nPlanes =
      autoPlanes(base.count(), 2048L, 0.35, tables, multiprobe = true)
    val nProbes = if (probes > 0) probes else nPlanes + 1
    val bucketed = lshBuckets(base, nPlanes, dim, tables)
      .select(col("vec_id"), col("table"), col("bucket"), col("embedding"))
    val queries0 = bucketed
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("table").as("qt"),
        col("bucket").as("qb"), col("embedding").as("qe"))
    val probed =
      if (nProbes <= 1) queries0
      else {
        // the query's own bucket plus its (probes-1) one-bit flips;
        // only the query side fans out — the indexed side is untouched
        val alts = col("qb") +:
          (0 until math.min(nProbes - 1, nPlanes)).map(j =>
            col("qb").bitwiseXOR(lit(1L << j)))
        queries0.select(col("query_id"), col("qt"),
          explode(array(alts: _*)).as("qb"), col("qe"))
      }
    val scored = bucketed.join(broadcast(probed),
        col("table") === col("qt") && col("bucket") === col("qb") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFixed(col("embedding"), col("qe")).as("cosine"))
      .distinct() // a pair can meet in several tables
    Candidates.topK(scored, k)
  }

  /** SQ8 scalar quantization: per-dimension affine int8 codes — the
    * 4× storage/bandwidth lever for a written vector index (the faiss
    * `SQ8` recipe). The per-dimension (min, max) ranges are one
    * map-side-combined aggregation over the exploded corpus (or a
    * bounded sample at 100 TB — ranges, like the IVF quantizer, are an
    * index artifact); codes are computed in-row against the ranges
    * shipped as literals. Returns (vec_id, codes: array<tinyint>). */
  def sq8Quantize(emb: DataFrame): (DataFrame, Seq[(Double, Double)]) = {
    val ranges = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("lo"),
        max(col("x").cast("double")).as("hi"))
      .orderBy("pos")
      .collect().map(r => (r.getDouble(1), r.getDouble(2))).toSeq
    val lo = array(ranges.map(r => lit(r._1)): _*)
    val scale = array(ranges.map { case (l, h) =>
      lit(if (h > l) 255.0 / (h - l) else 0.0) }: _*)
    // [0,255] shifted to the signed byte range [-128,127]
    val codes = zip_with(col("embedding"), sequence(lit(0), lit(ranges.size - 1)),
      (x, i) => (round((x.cast("double") - element_at(lo, i + 1)) *
        element_at(scale, i + 1)) - 128).cast("tinyint"))
    (emb.select(col("vec_id"), codes.as("codes")), ranges)
  }

  /** Dequantize SQ8 codes back to doubles (scan-time reconstruction —
    * the standard SQ8 search path: compressed at rest, exact cosine on
    * the reconstruction). */
  def sq8Dequantize(codes: Column, ranges: Seq[(Double, Double)]): Column = {
    val lo = array(ranges.map(r => lit(r._1)): _*)
    val step = array(ranges.map { case (l, h) =>
      lit(if (h > l) (h - l) / 255.0 else 0.0) }: _*)
    zip_with(codes, sequence(lit(0), lit(ranges.size - 1)),
      (c, i) => (c.cast("double") + 128.0) * element_at(step, i + 1) +
        element_at(lo, i + 1))
  }

  /** Top-k over the SQ8-compressed index: quantize once (index build),
    * scan the codes, rank by exact cosine on the reconstruction.
    * Accuracy loss is the quantization error only — recall@k stays
    * near 1 while the scanned bytes drop 4×. */
  def sq8TopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val (coded, ranges) = sq8Quantize(emb)
    val recon = coded.select(col("vec_id"),
      sq8Dequantize(col("codes"), ranges).as("embedding"))
    cosineTopK(recon, queryIds, k)
  }

  /** Content fingerprint of a frame's input files (path+size+mtime),
    * stat'd through the Hadoop FileSystem of each path — size+mtime is
    * available for file:// AND hdfs/s3, so a remote corpus regenerated
    * in place behind an identical canonical plan gets a fresh
    * fingerprint (a java.nio-only stat silently disabled content
    * keying off-local-disk). None on a stat failure or an in-memory
    * source. */
  private def contentFingerprint(df: DataFrame): Option[String] = {
    val files = df.inputFiles
    if (files.isEmpty) return None
    val md = java.security.MessageDigest.getInstance("MD5")
    try {
      val conf = df.sparkSession.sessionState.newHadoopConf()
      files.sorted.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        md.update(s"$f|${st.getLen}|${st.getModificationTime}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      Some(md.digest().map("%02x".format(_)).mkString)
    } catch { case _: Exception => None }
  }

  // ---- plain-primitive artifact codec ----------------------------------
  // Artifacts are nested double arrays (IVF centroids: rank 2; PQ
  // codebooks: rank 3). They are serialized as raw
  // DataOutputStream ints+doubles — NEVER Java object serialization:
  // readObject on a shared-host cache file is a gadget-chain execution
  // vector if another local user can plant a payload.
  private val ArtifactMagic = 0x47414e44 // "GAND" — graft nested double array
  private def writeMat(o: java.io.DataOutputStream,
                       m: Array[Array[Double]]): Unit = {
    o.writeInt(m.length)
    m.foreach { r => o.writeInt(r.length); r.foreach(o.writeDouble) }
  }
  private def readMat(i: java.io.DataInputStream): Array[Array[Double]] = {
    val n = i.readInt(); require(n >= 0 && n <= (1 << 20), "bad artifact")
    Array.fill(n) {
      val d = i.readInt(); require(d >= 0 && d <= (1 << 20), "bad artifact")
      Array.fill(d)(i.readDouble())
    }
  }
  private def writeMats(o: java.io.DataOutputStream,
                        t: Array[Array[Array[Double]]]): Unit = {
    o.writeInt(t.length); t.foreach(writeMat(o, _))
  }
  private def readMats(i: java.io.DataInputStream)
      : Array[Array[Array[Double]]] = {
    val n = i.readInt(); require(n >= 0 && n <= (1 << 20), "bad artifact")
    Array.fill(n)(readMat(i))
  }

  /** Per-user artifact cache root: `~/.cache/graft/index_artifacts`
    * (tmpdir + user-suffixed fallback), created 0700 where the
    * filesystem supports POSIX perms. A world-writable shared
    * `/tmp/graft_index_artifacts` with predictable names let any local
    * user pre-plant cache files; the private dir closes that. Returns
    * None (→ no disk layer) when no private directory can be secured. */
  private lazy val artifactDir: Option[java.nio.file.Path] = {
    import java.nio.file.{Files, Paths}
    val root = sys.props.get("user.home").filter(_.nonEmpty)
      .map(h => Paths.get(h, ".cache", "graft", "index_artifacts"))
      .getOrElse(Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        s"graft_index_artifacts_${sys.props.getOrElse("user.name", "u")}"))
    try {
      Files.createDirectories(root)
      try Files.setPosixFilePermissions(root,
        java.nio.file.attribute.PosixFilePermissions.fromString("rwx------"))
      catch { case _: UnsupportedOperationException => () }
      // serve nothing from a directory somebody else owns (pre-planted
      // before we first ran): ownership is the trust anchor
      val owner = Files.getOwner(root).getName
      val me = sys.props.getOrElse("user.name", "")
      if (owner == me || me.isEmpty) Some(root) else None
    } catch { case _: Exception => None }
  }

  /** Trained index artifacts (IVF quantizers, SemDeDup fine centroids,
    * PQ codebooks), memoized in the JVM and on disk. An artifact is
    * fitted once when the corpus is indexed (the build step) and probed
    * by every query: re-fitting per query would charge the build to the
    * read path.
    *
    * The key is the artifact's kind, the 128-bit MD5 of the corpus'
    * canonical plan (a 32-bit hash could silently hand a colliding
    * corpus another corpus' artifact), its params and the corpus'
    * [[contentFingerprint]]: a corpus regenerated in place behind an
    * identical plan gets a fresh fit. The canonical plan of an
    * in-memory frame omits its rows, so a corpus with no fingerprint
    * gets neither layer and is fitted on every call. The in-JVM map is
    * bounded at [[ArtifactsMax]] entries, so a long-lived session over
    * many corpora cannot grow it without limit.
    *
    * The disk layer is shared ACROSS JVMs — the same warm-start as the
    * store ETL ([[graft.model.GraftStore]]): a fresh JVM over the SAME
    * corpus bytes must not re-pay the bounded-sample k-means (the
    * single biggest steady cost of q_knn_pq). Values are driver-tiny
    * (≤ k×dim doubles); writes are temp + ATOMIC_MOVE so concurrent
    * JVMs race benignly; a corrupt or unreadable file falls back to
    * refit. */
  private def indexArtifact[T <: AnyRef](
      kind: String, corpus: DataFrame, params: Seq[Any],
      enc: (java.io.DataOutputStream, T) => Unit,
      dec: java.io.DataInputStream => T)(fit: => T): T =
    contentFingerprint(corpus) match {
      case None => fit
      case Some(ck) =>
        val plan = java.security.MessageDigest.getInstance("MD5")
          .digest(corpus.queryExecution.analyzed.canonicalized.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        val name = (Seq(kind, plan) ++ params).mkString("_")
        if (artifacts.size >= ArtifactsMax) artifacts.clear()
        artifacts.computeIfAbsent(s"${name}_$ck",
          _ => diskArtifact(ck, name, enc, dec)(fit)).asInstanceOf[T]
    }

  private val ArtifactsMax = 48
  private val artifacts =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  private def diskArtifact[T](ck: String, name: String,
                              enc: (java.io.DataOutputStream, T) => Unit,
                              dec: java.io.DataInputStream => T)
                             (fit: => T): T = {
    import java.nio.file.Files
    if (artifactDir.isEmpty) return fit
    val dir = artifactDir.get
    val f = dir.resolve(s"${name}_$ck.bin")
    def fitAndSave(): T = {
      val v = fit
      val tmp = Files.createTempFile(dir, name, ".tmp")
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
        Files.newOutputStream(tmp)))
      try { out.writeInt(ArtifactMagic); enc(out, v) } finally out.close()
      try Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        Files.deleteIfExists(tmp); ()
      }
      v
    }
    if (Files.exists(f))
      try {
        val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
          Files.newInputStream(f)))
        try {
          require(in.readInt() == ArtifactMagic, "bad artifact header")
          dec(in)
        } finally in.close()
      } catch { case _: Exception => fitAndSave() }
    else fitAndSave()
  }

  /** IVF (inverted-file) ANN — the trained-quantizer alternative to
    * hyperplane LSH: a k-means coarse quantizer over the normalized
    * corpus assigns every vector to one of nlist cells; a query
    * probes its nprobe most-similar cells and ranks exactly inside
    * them, scanning ~nprobe/nlist of the corpus. At 100 TB the corpus
    * is written partitioned by cell, so a probe reads nprobe
    * partitions; the quantizer (nlist × dim doubles) is driver-tiny
    * and ships as literals. Euclidean k-means on unit vectors orders
    * like cosine, so the cells are angular regions.
    *
    * Vectors are SPILL-ASSIGNED: each is indexed in its 2 nearest
    * cells (the index doubles), so a neighbor sitting just across a
    * cell boundary stays findable — the
    * corpus-side analog of query multi-probe. On the near-uniform
    * synthetic fixtures (neighbors at cosine ≈ 0.35 — the adversarial
    * case for cell methods) measured recall@5 at nprobe/nlist = 1/2 is
    * 0.40 single-assignment, 0.87 with assign=2. [[lshTopK]]'s
    * multi-probe union (recall 0.96 there) stays the default scale
    * path; prefer IVF when the embedding space has real cluster
    * structure. */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val seed = 42L
    val base = emb.select(col("vec_id"), col("embedding"))
    // the cell count nlist is sized from the corpus: a FIXED nlist=16
    // with nprobe=8 scans 50% of the corpus per query — a
    // constant-factor "index", the same non-scaling shape
    // the LSH fixed-k defect had. The faiss recipe is nlist ≈ √n;
    // auto uses the next power of two, capped at 1024 (the bounded
    // 64k-sample fit keeps ≥64 points per cell there), with nprobe =
    // nlist/16 — a 6% scan fraction at the cap. Corpora ≤64k rows
    // keep the historical (16, 8) exactly, so every gated sf (and the
    // f10 decade base) is bit-identical.
    val nL = {
      val n = base.count()
      if (n <= 65536) 16
      else math.min(1024, Integer.highestOneBit(
        math.ceil(math.sqrt(n.toDouble)).toInt - 1) * 2)
    }
    val nP = math.max(8, nL / 16)
    val cents = indexArtifact("ivf", base, Seq(nL, seed),
                              writeMat, readMat) {
      // the quantizer trains on a BOUNDED SAMPLE of normalized vectors
      // (angular cells; cell rank per vector is scale-invariant, so
      // the scan side keeps raw arrays). Coarse quantizers need a few
      // thousand points per cell, not the corpus — at 100 TB the fit
      // reads 64k rows, the standard IVF build recipe (faiss trains
      // the same way), and k-means cost stays independent of corpus
      // size. maxIter 10: centroid drift past that is far below cell-
      // boundary noise that spill assignment already absorbs.
      val fit = base.limit(64 * 1024)
        .select(array_to_vector(normalized(col("embedding"))).as("fv"))
      new KMeans().setK(nL).setSeed(seed).setMaxIter(10)
        .setFeaturesCol("fv").setPredictionCol("cell")
        .fit(fit).clusterCenters.map(_.toArray)
    }
    // Top-`n` cells for a vector, computed IN-ROW via ONE native
    // CentroidTopN node (the quantizer rides as a reference object):
    // the former per-centroid literal dot structs + sort_array stop
    // being codegen-able past ~10 centroids — the LshSignatures
    // disease — and corpus-adaptive nlist reaches 1024. Ranking is
    // bit-identical (dot descending, ties to the lowest cell). No
    // explode×nlist of the embedding column, no row_number window.
    def topCellsArr(vec: Column, n: Int): Column =
      graft.functions.VectorExprs.centroidTopN(vec, cents, n)
    // spill assignment to the 2 nearest cells; at 100 TB this frame IS
    // the written cell-partitioned index, built once at indexing time
    val assigned = base.select(col("vec_id"), col("embedding"),
      explode(topCellsArr(col("embedding"), 2)).as("cell"))
    val topCells = Candidates.queries(base, queryIds,
      col("embedding").as("qe"),
      explode(topCellsArr(col("embedding"), nP)).as("cell"))
    val scored = assigned.join(topCells, Seq("cell"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFixed(col("embedding"), col("qe")).as("cosine"))
      .distinct() // a spilled vector can meet a query in several cells
    Candidates.topK(scored, k)
  }

  /** Deterministic distributed Lloyd k-means over `array<float>`
    * embeddings — the DECLARED clustering operator (the seeded ML
    * KMeans inside [[ivfTopK]] is an index artifact; this one has a
    * fully specified, oracle-mirrorable contract).
    *
    * Contract (mirrored term-for-term by the DuckDB oracle):
    *   - initial centroids = the `k` lowest-`vec_id` vectors, each
    *     coordinate rounded to 6 decimals;
    *   - each iteration assigns every vector to the centroid
    *     minimizing `c·c − 2·(v·c)` (squared L2 minus the per-row
    *     constant `v·v`), ties to the lowest cluster id, then
    *     recomputes each coordinate as `round(avg(v[i]), 6)` over the
    *     members (an empty cluster keeps its previous centroid);
    *   - returns the assignment under the final centroids.
    * The 6-decimal grid is what makes the float arithmetic portable
    * across engines (same discipline as bm25): both sides compute
    * index-ordered double dot products over IDENTICAL rounded
    * centroid values, so the argmin decisions agree exactly.
    *
    * 100 TB shape: for small k, assignment is a scan-side projection
    * (k native-dot expression nodes against centroid literals — no
    * shuffle, no explode); past [[KmeansLiteralMax]] centroids the
    * literal expression tree stops being codegen-able (k×dim inline
    * literals), so assignment switches to the native
    * [[graft.functions.CentroidArgmin]] expression — the centroid
    * matrix rides as ONE reference object and each row runs a tight
    * compiled k×dim argmin loop (identical arithmetic: same rounded
    * centroids, same `c·c − 2·(v·c)` index-ordered dots, same
    * (dist, cluster) tie order). No n×k row expansion: the earlier
    * broadcast-crossJoin form materialized n×k rows through a
    * struct-min aggregation, which the sf10 probe caught at 800M
    * rows / >45 min for one corpus-scaled-k assignment. The update is
    * ONE map-side-combined aggregation of k×dim cells; centroids
    * (k×dim doubles) live on the driver like any trained quantizer.
    * Cost per iteration = one corpus scan, independent of corpus
    * width. Returns (vec_id, cluster). */
  def kmeans(emb: DataFrame, k: Int, iters: Int): DataFrame =
    kmeans(emb, k, iters, KmeansLiteralMax)

  /** Largest k assigned through inline centroid literals; beyond it
    * the [[graft.functions.CentroidArgmin]] loop takes over (see
    * [[kmeans]]). The k×dim literal tree's analysis/codegen cost
    * dominates well before the arithmetic does (at sf0.1/dim 64, k=40
    * took 4.0 s as literals against 1.6 s for the assignment join that
    * CentroidArgmin later replaced), so only genuinely small k stays
    * inline. */
  val KmeansLiteralMax = 16

  private[graft] def kmeans(emb: DataFrame, k: Int, iters: Int,
                            literalMax: Int): DataFrame = {
    val (e, cents) = kmeansLoop(emb, k, iters, literalMax)
    // Materialize the final assignment (2 narrow columns — tiny next
    // to the corpus), then drop the iteration corpus immediately:
    // callers that never drain the registry (tests, library use)
    // would otherwise pin a MEMORY_AND_DISK copy of the corpus until
    // the next release. The result frame stays registered for the
    // end-of-query release.
    val out = Caches.persist(
      assignFrame(e, cents, literalMax).select("vec_id", "cluster"))
    out.count()
    Caches.release(e)
    out
  }

  /** Assignment frame for a fixed centroid set over the cached
    * (vec_id, v) corpus: k native-dot literal structs at small k, the
    * [[graft.functions.CentroidArgmin]] reference-object
    * loop past [[KmeansLiteralMax]] (identical arithmetic both ways:
    * index-ordered dots, dist = cc − 2·(c·v), ties to the lowest
    * cluster id — no n×k row expansion either way). */
  private def assignFrame(e: DataFrame,
                          cs: IndexedSeq[IndexedSeq[Double]],
                          literalMax: Int): DataFrame =
    if (cs.size <= literalMax) {
      val scored = cs.zipWithIndex.map { case (c, i) =>
        // c·c on the driver, index-ordered — the same sequential
        // double accumulation the native dot and the oracle's
        // list_inner_product perform
        val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
        struct((lit(cc) - lit(2.0) * dotFixed(col("v"),
          array(c.map(lit): _*))).as("dist"), lit(i).as("cluster"))
      }
      // array_min on struct<dist,cluster>: min dist, ties to the
      // lowest cluster id — the oracle's (dist ASC, cluster ASC) rank
      e.select(col("vec_id"), col("v"),
        array_min(array(scored: _*)).getField("cluster").as("cluster"))
    } else
      e.select(col("vec_id"), col("v"),
        graft.functions.VectorExprs.centroidArgmin(
          col("v"), cs.map(_.toArray).toArray).as("cluster"))

  /** The Lloyd iteration core shared by [[kmeans]] (which materializes
    * the final assignment) and [[kmeansCentroids]] (which keeps only
    * the trained centroids): returns the CACHED double-cast corpus —
    * caller must unpersist — and the final centroids on the 6-decimal
    * grid. */
  private def kmeansLoop(emb: DataFrame, k: Int, iters: Int,
                         literalMax: Int)
      : (DataFrame, IndexedSeq[IndexedSeq[Double]]) = {
    val e0 = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    // Assignment work is n×k×dim flops — [[computeParallel]] splits
    // it across cores even when the corpus is one parquet split.
    // Persisted because the loop scans the corpus iters+1 times.
    val e = Caches.persist(computeParallel(e0))
    var cents: IndexedSeq[IndexedSeq[Double]] =
      e.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Double](1).map(round6).toIndexedSeq).toIndexedSeq
    require(cents.size == k,
      s"kmeans: k=$k but corpus has only ${cents.size} vectors")
    for (_ <- 1 to iters) {
      val upd = assignFrame(e, cents, literalMax)
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(round(avg("x"), 6).as("cv"))
        .collect()
      val byCluster = upd.groupBy(_.getInt(0)).map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
      }
      cents = (0 until k).map(i => byCluster.getOrElse(i, cents(i)))
    }
    (e, cents)
  }

  /** A centroid coordinate on the 6-decimal grid both k-means levels
    * and the oracle share. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Final Lloyd centroids only — [[kmeans]]' loop without the
    * assignment materialization. The fine-level quantizer of the
    * two-level SemDeDup ([[graft.pipeline.Dedup.semanticPairs2L]]),
    * memoized per (plan, content, k, iters) like the IVF quantizer
    * ([[indexArtifact]]), because the fit is a BUILD cost paid once per
    * corpus snapshot, not per query. */
  private[graft] def kmeansCentroids(emb: DataFrame, k: Int, iters: Int)
      : IndexedSeq[IndexedSeq[Double]] =
    indexArtifact("sem2l", emb, Seq(k, iters), writeMat, readMat) {
      val (e, cents) = kmeansLoop(emb, k, iters, KmeansLiteralMax)
      Caches.release(e)
      cents.map(_.toArray).toArray
    }.map(_.toIndexedSeq).toIndexedSeq

  /** Pure-driver Lloyd over a SMALL point set — the COARSE level of
    * the two-level SemDeDup, clustering the k fine centroids
    * (≤ maxK×dim doubles, no Spark job): the same contract as
    * [[kmeans]] term for term — init = the k lowest-index points
    * re-rounded to the 6-decimal grid, dist = c·c − 2·(p·c) with
    * index-ordered double accumulation, ties to the lowest cluster
    * id, update = round6 mean with empty clusters keeping their
    * previous centroid — so the DuckDB oracle mirrors it with the
    * same CTE shape as the distributed level. Returns (final
    * centroids, per-point assignment under them). */
  private[graft] def lloydDriver(points: IndexedSeq[IndexedSeq[Double]],
                                 k: Int, iters: Int)
      : (IndexedSeq[IndexedSeq[Double]], IndexedSeq[Int]) = {
    require(points.size >= k,
      s"lloydDriver: k=$k over ${points.size} points")
    def assign(cs: IndexedSeq[IndexedSeq[Double]]): IndexedSeq[Int] =
      points.map { p =>
        var best = Double.PositiveInfinity; var bestC = -1; var ci = 0
        while (ci < cs.size) {
          val c = cs(ci)
          var cc = 0.0; var dot = 0.0; var i = 0
          while (i < c.length) {
            cc += c(i) * c(i); dot += p(i) * c(i); i += 1
          }
          val dist = cc - 2.0 * dot
          if (dist < best) { best = dist; bestC = ci }
          ci += 1
        }
        bestC
      }
    var cents = points.take(k).map(_.map(round6))
    for (_ <- 1 to iters) {
      val a = assign(cents)
      cents = (0 until k).map { c =>
        val members = points.indices.filter(a(_) == c)
        if (members.isEmpty) cents(c)
        else (0 until points.head.length).map(d =>
          round6(members.foldLeft(0.0)((s, m) => s + points(m)(d))
            / members.size)).toIndexedSeq
      }
    }
    (cents, assign(cents))
  }

  /** Seeded Gaussian projection matrix (rdim × dim) — like the LSH
    * [[planes]], an index artifact with no trained state: any
    * executor (or re-run) regenerates it from the seed. */
  private def rpMatrix(rdim: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(rdim)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** RANDOM-PROJECTION ANN (Johnson–Lindenstrauss candidate
    * generation): project corpus and queries to 32 dims through a
    * seeded Gaussian matrix, take each query's 200 nearest in the
    * REDUCED space (32/dim of the scan bandwidth — the reduced
    * index is the small written artifact), then re-rank the
    * candidates by exact full-dimension cosine and keep top-k. JL
    * preserves angles to within the projection distortion, so the
    * exact top-k survives into a modest candidate pool with high
    * probability — the third index family next to hyperplane LSH
    * (bucketed) and IVF (trained cells): dense-but-narrower, no
    * buckets to mis-route, recall tuned by the candidate count alone.
    *
    * 100 TB shape: the projection is a per-row expression over the
    * scan (one native MatVec node); the candidate stage scans only the
    * 32-wide index; the re-rank joins the cand×queries id set
    * (broadcast) back to the full vectors — the corpus full-width
    * table is touched only for candidate rows. */
  def rpTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
             dim: Int = 64): DataFrame = {
    // ONE MatVec node, not 32 per-row DotProduct columns: 32 inlined
    // dot loops blow the whole-stage method past the JIT compile limit
    // (the LshSignatures disease — measured 100× off linear)
    val mat = rpMatrix(32, dim, 20260814L)
    def reduced(v: Column): Column =
      graft.functions.VectorExprs.matVec(v, mat.map(_.toArray).toArray)
    val base = emb.select(col("vec_id"), col("embedding"))
    val idx = base.select(col("vec_id"), reduced(col("embedding")).as("rv"))
    val queries = Candidates.queries(idx, queryIds, col("rv").as("qrv"))
    val coarse = idx.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFixed(col("rv"), col("qrv")).as("rcos"))
    Candidates.rerank(base, queryIds, coarse, "rcos", 200, k)
  }

  /** CONTRASTIVE TRIPLET MINING — the dataset-construction op for
    * embedding-model training: per anchor, positive = the exact
    * nearest neighbor, hard negatives = the next `nNeg` ranks (the
    * near misses that carry the training signal — the hard-negative
    * recipe of Schroff et al. 2015's semi-hard mining, batch shape).
    * One row per (anchor, positive, negative) with the negative's
    * rank. Built on [[cosineTopK]] so the contract is exact and
    * oracle-checkable; at 100 TB swap the exact ranker for
    * [[lshTopK]]/[[pqTopK]] unchanged — the mining logic is
    * ranker-agnostic. The positive side is anchor-count-sized, so its
    * re-join broadcasts. */
  def tripletMine(emb: DataFrame, queryIds: Seq[Long],
                  nNeg: Int): DataFrame = {
    val ranked = cosineTopK(emb, queryIds, 1 + nNeg)
    // the positive is the rank-1 row of the same partition — one
    // ordered window over the shuffle the ranking already produced,
    // no self-join
    val w = Window.partitionBy("query_id").orderBy("rank")
    ranked
      .withColumn("pos_id", first(col("neighbor_id")).over(w))
      .where(col("rank") > 1)
      .select(col("query_id").as("anchor_id"), col("pos_id"),
        col("neighbor_id").as("neg_id"), (col("rank") - 1).as("neg_rank"))
  }

  /** PRODUCT-QUANTIZED ANN (Jégou et al. 2011 — the faiss `PQ<m>`
    * recipe; the FOURTH index family next to LSH buckets, IVF cells
    * and the JL sketch): the normalized D-dim vector splits into m = 8
    * subvectors and each subspace trains its own ksub = 16-centroid
    * codebook (bounded 64k-sample k-means per subspace — an index
    * artifact, corpus-size-independent build like the IVF quantizer).
    * A vector is stored as m sub-codes — at ksub≤256 that is m bytes,
    * 32× smaller than D=64 floats, and the scan never decodes.
    *
    * Search is ADC (asymmetric distance computation): the query stays
    * full-precision; its dot product with every centroid of every
    * subspace forms an m×ksub lookup table (driver-built for the
    * bounded probe set, shipped on the broadcast query rows), and a
    * candidate's approximate cosine is the SUM OF m TABLE LOOKUPS
    * over its codes. The top `cand` ADC candidates per query are then
    * re-ranked by exact cosine over the raw vectors (the [[rpTopK]]
    * discipline), so the emitted cosine is exact and recall loss is
    * only candidates the quantized ranking missed.
    *
    * 100 TB shape: the coded index is the scan (m bytes/vector); the
    * ADC score is m in-row lookups, no join before the candidate cut;
    * codebooks are m×ksub×dsub doubles on the driver. Encoding is
    * in-row argmin via the negated-struct sort — no explode×ksub. */
  def pqTopK(emb: DataFrame, queryIds: Seq[Long], k: Int, dim: Int = 64,
             cand: Int = 100): DataFrame = {
    val (m, ksub, seed) = (8, 16, 42L)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val nrm = base.select(col("vec_id"), normalized(col("embedding")).as("nv"))
    // dim is part of the key: the same corpus at another dim must not
    // reuse codebooks trained for the wrong shape
    val books = indexArtifact("pq", base, Seq(m, ksub, dim, seed),
                              writeMats, readMats) {
      val sample = Caches.persist(nrm.limit(64 * 1024))
      try (0 until m).map { j =>
        val fit = sample.select(array_to_vector(
          slice(col("nv"), j * dsub + 1, dsub)).as("fv"))
        new KMeans().setK(ksub).setSeed(seed + j).setMaxIter(10)
          .setFeaturesCol("fv").setPredictionCol("code").fit(fit)
          .clusterCenters.map(_.toArray)
      }.toArray
      finally Caches.release(sample)
    }
    // encode in-row: per subspace the nearest centroid by L2 =
    // argmin(c·c/2 − sub·c), ties to the lowest code — ONE PqEncode
    // node for all m subspaces (the former per-subspace negated-
    // struct sorts carried m×ksub inlined dot loops past the JIT
    // method limit, the LshSignatures disease)
    val coded = nrm.select(col("vec_id"),
      graft.functions.VectorExprs.pqEncode(col("nv"), books, dsub)
        .as("codes"))
    // ADC lookup tables for the bounded probe set (driver-side dots
    // over the normalized queries — cosine ≈ Σ_j lut[j][code_j])
    val qVecs = nrm.where(col("vec_id").isin(queryIds: _*))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val luts = qVecs.toSeq.map { case (qid, qv) =>
      (qid, (0 until m).map { j =>
        val sub = qv.slice(j * dsub, (j + 1) * dsub)
        books(j).map(c => c.iterator.zip(sub.iterator)
          .map { case (a, b) => a * b }.sum).toSeq
      })
    }
    val queries = broadcast(luts.toDF("query_id", "lut"))
    // tight generated loop over the two array columns — the
    // aggregate(zip_with(...)) HOF pair evaluates interpreted per
    // element on every (candidate × query) row; same left-fold order
    val approx = graft.functions.VectorExprs.pqAdc(
      col("codes"), col("lut"))
    val coarse = coded.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        approx.as("adc"))
    Candidates.rerank(base, queryIds, coarse, "adc", cand, k)
  }

  /** Top-`c` PRINCIPAL COMPONENTS of the embedding corpus — the
    * trained complement to [[rpTopK]]'s random sketch (whitening,
    * learned dimensionality reduction before clustering/dedup). One
    * distributed covariance pass (RowMatrix grammian — map-side
    * combined, dim² driver state) + a driver-side eigendecomposition
    * of the dim×dim covariance; like the IVF quantizer and SQ8 ranges,
    * the components are a small INDEX artifact shipped as literals.
    * Returns `c` rows of `dim` doubles (orthonormal, variance-ranked). */
  def pcaComponents(emb: DataFrame, c: Int): Seq[Seq[Double]] = {
    import org.apache.spark.mllib.linalg.{Vectors => MlVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val rows = emb.select(col("embedding")).rdd
      .map(r => MlVectors.dense(
        r.getSeq[Float](0).map(_.toDouble).toArray))
    val pc = new RowMatrix(rows).computePrincipalComponents(c)
    (0 until c).map(j => (0 until pc.numRows).map(i => pc(i, j)))
  }

  /** Project onto components — ONE MatVec node at any component count
    * (per-component dot columns hit the JIT method limit past ~10,
    * the LshSignatures disease). */
  def pcaProject(v: Column, comps: Seq[Seq[Double]]): Column =
    graft.functions.VectorExprs.matVec(v, comps.map(_.toArray).toArray)

  /** Grounded PCA check row (the declared-query contract for a
    * trained artifact the oracle can't re-derive — same pattern as
    * the ANN recall rows): `axis_max_var` (max per-coordinate
    * population variance) is INDEPENDENTLY recomputable in SQL and
    * pins the row; the booleans are real engine-side measurements
    * against that oracle-pinned number — PC1's variance must reach
    * the best axis-aligned direction (the defining property of PCA),
    * component variances must descend, and the basis must be
    * orthonormal. Variance arithmetic keeps one operator order
    * (`ss/n − (s/n)²`, round 6) so the doubles agree. */
  def pcaCheck(emb: DataFrame, c: Int = 4): DataFrame = {
    val comps = pcaComponents(emb, c)
    def dotS(a: Seq[Double], b: Seq[Double]): Double =
      a.lazyZip(b).map(_ * _).sum
    val orthonormal = comps.indices.forall { i =>
      (i until comps.size).forall { j =>
        val d = dotS(comps(i), comps(j))
        if (i == j) math.abs(d - 1) < 1e-9 else math.abs(d) < 1e-9
      }
    }
    val x = col("x").cast("double")
    val axisMax = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg((sum(x * x) / count(lit(1)) -
        pow(sum(x) / count(lit(1)), 2)).as("v"))
      .agg(max(col("v")).as("m")).head().getDouble(0)
    val projected = emb.select(
      comps.indices.map(j =>
        pcaProject(col("embedding"), Seq(comps(j))).getItem(0)
          .as(s"p$j")): _*)
    val aggCols = comps.indices.flatMap(j => Seq(
      sum(col(s"p$j") * col(s"p$j")).as(s"ss$j"),
      sum(col(s"p$j")).as(s"s$j"))) :+ count(lit(1)).as("n")
    val r = projected.agg(aggCols.head, aggCols.tail: _*).head()
    val n = r.getAs[Long]("n").toDouble
    val vars = comps.indices.map { j =>
      r.getAs[Double](s"ss$j") / n - math.pow(r.getAs[Double](s"s$j") / n, 2)
    }
    val spark = emb.sparkSession
    spark.range(1).select(
      round(lit(axisMax), 6).as("axis_max_var"),
      lit(vars.head >= axisMax * (1 - 1e-9)).as("pc1_ge_axis"),
      lit(vars.lazyZip(vars.tail).forall(_ >= _ * (1 - 1e-9)))
        .as("vars_monotone"),
      lit(orthonormal).as("orthonormal"))
  }
}
