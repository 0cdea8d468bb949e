package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{SimilarityFunctions => SF, TextFunctions => TF}

/** Dedup + similarity-search operators for training-data pipelines.
  *
  * Scale design notes (100 TB):
  *  - Exact dedup: one shuffle on the 60-bit content hash (not the full
  *    text) — hash first, shuffle the hash.
  *  - MinHash LSH: signatures are computed scan-side (no shuffle), the only
  *    shuffles are the band-key explode→groupBy and the candidate self-join,
  *    both on compact longs. Candidate volume is O(sum of bucket²), tuned by
  *    (bands, rowsPerBand); verification re-checks estimated Jaccard from
  *    signatures, never re-reading the corpus.
  *  - Brute-force KNN broadcasts the (small) query set; the corpus side
  *    streams partition-local, no shuffle of the big side. A window per
  *    query-id does the final top-k on queries×k rows only.
  */
object Similarity {

  /** Exact dedup: keep the first (min id) row per normalized-content hash.
    * Returns (survivor id, n_copies, fingerprint). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TF.contentFingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash-LSH near-dup candidate pairs with signature-estimated Jaccard.
    *
    * @param sigLen      total minhash functions (bands * rowsPerBand)
    * @param bands       LSH bands; two docs collide if any band matches
    * @param minJaccard  keep pairs with estimated Jaccard >= this
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, sigLen: Int = 16, bands: Int = 4,
      minJaccard: Double = 0.5): DataFrame = {
    val rowsPerBand = sigLen / bands
    // r17: signatures are computed PER ROW in one primitive loop
    // (MinhashSigExpr — each shingle digested once, n permutation minima
    // folded in place), entirely scan-side: the previous shape exploded the
    // shingle array to rows and reassembled per-document minima through an
    // n-min-column groupBy(id) exchange — materializing ~shingles-per-doc
    // rows and a full shuffle for values that never needed to leave the
    // row. (The r2-era array-lambda spelling stays rejected: interpreted
    // HOFs re-evaluate the hash per permutation.) The tokenCount gate
    // reproduces explode's row-drop for docs with < shingleSize tokens
    // (empty shingle array), checked cheaply BEFORE shingling; tokens stay
    // materialized ahead of the shingle lambda (a lambda re-evaluates
    // non-attribute subtrees per element — O(tokens²) otherwise).
    val sigs = df
      .filter(TF.tokenCount(col(textCol)) >= shingleSize)
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .select(col("id"), TF.wordShinglesOfTokens(col("__toks"), shingleSize).as("__sh"))
      .select(col("id"), SF.minhashSigRow(col("__sh"), sigLen).as("sig"))
    // The banded signatures feed BOTH sides of the candidate self-join;
    // eagerly materialized (lineage truncated) so the corpus is scanned and
    // hashed exactly once — localCheckpoint stores the partitions in the
    // block manager, the single-JVM analog of checkpointing signatures to
    // storage and bucket-joining them on a cluster.
    val banded = sigs.select(col("id"), col("sig"),
        explode(SF.lshBandKeys(col("sig"), bands, rowsPerBand)).as("band_key"))
      .localCheckpoint(true)
    val a = banded.select(col("band_key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_key"), col("id").as("id_b"), col("sig").as("sig_b"))
    // candidate dedup across bands: groupBy + the hash-plannable any-fold
    // (a dropDuplicates here compiles to first() = SortAggregate; the sig
    // columns are functionally determined by the ids, so any-value is exact)
    val candidates = a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(graft.functions.FirstLastAgg.anyValue(col("sig_a")).as("sig_a"),
        graft.functions.FirstLastAgg.anyValue(col("sig_b")).as("sig_b"))
    // signature agreement as ONE primitive loop per candidate pair
    // (SimilarityFunctions.VectorMatchCount — the interpreted zip_with
    // spelling allocated an array and two lambda evals per position)
    val bridge = org.apache.spark.sql.graftbridge.CatalystBridge
    val est = candidates.withColumn("est_jaccard",
      bridge.column(graft.functions.VectorMatchCount(
        bridge.expression(col("sig_a")), bridge.expression(col("sig_b"))))
        .cast("double") / sigLen)
    est.filter(col("est_jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard similarity join: explode distinct word shingles,
    * self-join on shingle equality, count intersections, compute
    * |A∩B| / (|A|+|B|-|A∩B|). Shuffles only (id, shingle-hash) pairs.
    *
    * `maxDf` caps shingle document frequency before the self-join: a
    * stopword-ish shingle shared by 1% of a 100 TB corpus is a quadratic
    * hot key (join fan-out = DF², unbounded without the cap). Pruned
    * shingles drop out of BOTH the intersection and the set sizes
    * ("filtered Jaccard" over the surviving shingles — the standard
    * construction; high-DF shingles carry no near-dup signal anyway).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5, minJaccard: Double = 0.5,
      maxDf: Int = Int.MaxValue): DataFrame = {
    // tokens hoisted ahead of the shingle lambda (see minhashPairs)
    val sh0 = df
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .select(col("id"),
        explode(TF.wordShinglesOfTokens(col("__toks"), shingleSize)).as("shingle"))
      .withColumn("sh", TF.hexLong60(col("shingle"))).drop("shingle")
    // r16: cap by ANTI-joining the HOT keys (df > maxDf), not by inner-
    // joining the keep set (~every distinct shingle, corpus-sized). r17:
    // no forced broadcast() hint — the hot-key COUNT is Zipf-tail-unbounded
    // at corpus scale (only each key's excess df is bounded), so the hint
    // could force a multi-GB broadcast; AQE broadcasts the built side at
    // runtime whenever it actually fits (guide §3.1) and degrades to a
    // shuffle join when it does not.
    // The capped path reads sh0 twice (the DF histogram and the anti-join
    // probe), so it is materialized once; the uncapped path's only consumer
    // is the checkpoint below. Posture of both: SCALE.md §11.
    val sh =
      (if (maxDf == Int.MaxValue) sh0
       else {
         val all = sh0.localCheckpoint(true)
         val hot = all.groupBy("sh").agg(count(lit(1)).as("df"))
           .filter(col("df") > maxDf).select("sh")
         all.join(hot, Seq("sh"), "left_anti")
       })
      // r16: materialize the capped shingle set ONCE — the sizes branch and
      // both self-join sides consumed it independently before, re-running
      // the DF histogram + cap join per consumer (4 extra aggregate/
      // broadcast subtrees in the r16-baseline plan; guide §2.4)
      .localCheckpoint(true)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val inter = sh.as("x").join(sh.as("y"), col("x.sh") === col("y.sh") && col("x.id") < col("y.id"))
      .groupBy(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "n_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "n_b"), "id_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "inter", "n_a", "n_b", "jaccard")
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ `minOverlap`
    * DISTINCT word-shingles with any benchmark (eval-set) document — the
    * standard test-set-overlap removal step of a training-data pipeline.
    * Returns (id_a = corpus doc, bench_id, overlap) per contaminated pair.
    *
    * Scale shape: the benchmark side is small (eval sets are 10²–10⁵ docs)
    * and its distinct shingle hashes BROADCAST; the corpus side streams in
    * one scan through a broadcast hash join — no corpus shuffle until the
    * (doc, bench) partial-aggregated match counts, whose volume is bounded
    * by actual contamination, not corpus size. Shingles travel as compact
    * 60-bit hashes (same md5-derived hashing as the n-gram Jaccard path, so
    * the DuckDB oracle reproduces them bit-exactly). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, shingleSize: Int = 8, minOverlap: Int = 1): DataFrame = {
    def shingles(df: DataFrame, outId: String): DataFrame = df
      .select(col(idCol).as(outId), TF.tokens(col(textCol)).as("__toks"))
      .select(col(outId),
        explode(TF.wordShinglesOfTokens(col("__toks"), shingleSize)).as("shingle"))
      .select(col(outId), TF.hexLong60(col("shingle")).as("sh"))
    // bench side dedupes pre-broadcast (small); the CORPUS side dedupes
    // AFTER the broadcast join — only matching shingles (bounded by actual
    // contamination) ever shuffle, the corpus itself streams one pass
    val benchSh = broadcast(shingles(benchmark, "bench_id").distinct())
    shingles(corpus, "id_a").join(benchSh, "sh")
      .select("id_a", "bench_id", "sh").distinct() // DISTINCT shared shingles
      .groupBy("id_a", "bench_id")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
  }

  /** 64-bit simhash per document, row-based: explode tokens, hash each once
    * inside the codegen'd scan pipeline, then take the 64 bit-votes as 64
    * conditional-sum aggregates in a single HashAggregate (map-side
    * combined). The array-lambda formulation (aggregate/zip_with over the
    * token array) evaluates interpreted per element — measured 4× slower at
    * sf0.1. Same lesson as minhashPairs' row-based signatures. */
  def simhashTable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // r17: the whole simhash folds PER ROW in one primitive loop
    // (Simhash64Expr — one digest per token, 64 vote counters in place),
    // entirely scan-side. The previous shape exploded tokens to rows and
    // reassembled the votes through a 64-sum-column groupBy(id) exchange —
    // ~tokens-per-doc materialized rows plus a full shuffle for a value
    // that never needed to leave the row. The text-null filter reproduces
    // explode's row-drop for null texts (explode(null) emitted nothing);
    // it guards the SOURCE column, not the computed one, so predicate
    // pushdown cannot duplicate the simhash evaluation into a pushed
    // filter (guide §4.4's duplication trap, same hazard for expressions).
    df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), TF.tokens(col(textCol)).as("__toks"))
      .select(col("id"), SF.simhash64Row(col("__toks")).as("simhash"))

  /** SimHash near-dup: 64-bit simhash per doc; pairs within `maxHamming`
    * found by a banded multi-probe equi-join — 4 disjoint 16-bit bands, so
    * by pigeonhole every pair at hamming ≤ 3 agrees exactly on ≥1 band.
    * The join key space is ~2⁶⁴/4 (vs 2¹⁶ for the old 16-bit simhash,
    * whose candidate volume grew ~n²/2¹⁶ — the key space itself was the
    * skew at corpus scale). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16-bit banding guarantees completeness only for hamming <= 3")
    // consumed by both sides of the band join: materialized once per call
    val sh = simhashTable(df, idCol, textCol).localCheckpoint(true)
    val banded = sh.select(col("id"), col("simhash"),
      explode(array((0 until 4).map(b => SF.simhashBandKey(col("simhash"), b)): _*)).as("band_key"))
    val a = banded.select(col("band_key"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band_key"), col("id").as("id_b"), col("simhash").as("sh_b"))
    // cross-band dedup via groupBy + min: hamming is functionally
    // determined by the pair, and min over ints keeps the aggregate in
    // HashAggregate (a dropDuplicates would compile to first() =
    // SortAggregate on both shuffle sides)
    a.join(b, Seq("band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), SF.hammingDistance(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }

  /** Duplicate-cluster assignment: connected components over a candidate-pair
    * edge list (the step after any pair-finder — minhash/simhash/ngram —
    * in a real dedup pipeline: near-dup PAIRS must become CLUSTERS so one
    * survivor per cluster can be kept).
    *
    * Alternating small-star / large-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round rewires the
    * edge set toward a star forest whose centers are the component minima.
    *   large-star: every node attaches its strictly-LARGER neighbors to the
    *     minimum of its closed neighborhood;
    *   small-star: every node attaches its smaller-or-equal neighbors (and
    *     itself) to that minimum.
    * The alternation converges in O(log^2 n) rounds REGARDLESS of component
    * diameter (min-label propagation is O(diameter) — a pathological chain
    * of near-dups would stall it), and each half-round is one window-min
    * over a hash-partition of the edge list: no join, no adjacency
    * materialization beyond the edges themselves. `localCheckpoint`
    * truncates the growing lineage each round (the single-JVM analog of
    * checkpointing iteration state to storage on a cluster); the driver
    * loop moves only a 3-number convergence probe per round.
    *
    * Concurrency: the iteration runs on a CLONED SparkSession (same
    * SparkContext, isolated SQLConf) with the shuffle width pinned to the
    * graph size, so a concurrent query planned on the caller's session —
    * e.g. a facade request arriving mid-loop — never observes the pinned
    * width. Input edges cross the session boundary as eagerly-materialized
    * RDDs; the final labels carry a LAZY checkpoint mark, so the caller's
    * first action computes them (on the caller's session) and the blocks
    * are kept for any re-read.
    *
    * Returns (id, cluster_id) for every node that appears in a pair;
    * cluster_id = min id in the component.
    *
    * @param localThreshold graphs of at most this many pair rows are solved
    *                       on the driver; 0 forces the distributed loop */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20,
      localThreshold: Int = 1 << 20): DataFrame = {
    // materialize the pair-finder ONCE — everything downstream re-reads the
    // checkpointed blocks, never the (expensive) upstream plan
    val spark0 = pairs.sparkSession
    val pc = pairs.select(col(idA).cast("long").as("a"), col(idB).cast("long").as("b"))
      .localCheckpoint(true)
    // r17 small-graph fast path: a candidate-pair graph that fits on the
    // driver is solved there with union-find — identical labels (component
    // minimum), ONE bounded job instead of the loop's 2 jobs/round + the
    // orientation job + the final labels join. At sf0.1 the whole edge set
    // is 297 rows, yet the distributed alternation paid 4 rounds of fixed
    // scheduling floor (~1 s of the query's 2.8 s); the reference's broker
    // merges small per-segment results centrally the same way. The probe is
    // a limit(T+1) collect — bounded whatever the graph size — and any
    // larger graph falls through to the alternating loop unchanged (the
    // checkpoint is already materialized either way). The probe brings up
    // to T+1 pairs to the driver as primitive longs (see packPairs); T is
    // `localThreshold` pair rows.
    val head = pc.limit(localThreshold + 1).queryExecution.toRdd
      .mapPartitions(packPairs).collect()
    val pairRows = head.map(p => p._1.length / 2 + p._3).sum
    if (pairRows <= localThreshold) {
      // DSU with path halving; label = min id per component (the exact
      // semantics of the star-forest fixpoint below, asserted equal in
      // SimilaritySpec's forced-threshold test)
      val parent = new java.util.HashMap[Long, Long](pairRows * 2)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.get(x)
        while (p != x) {
          val gp = parent.get(p)
          parent.put(x, gp)
          x = gp
          p = parent.get(x)
        }
        x
      }
      def add(x: Long): Unit = if (!parent.containsKey(x)) parent.put(x, x)
      // null ids as on the distributed path: an edge with a null endpoint
      // joins nothing (`a =!= b` drops it), its other endpoint still labels
      // itself, and the null node is one (null, null) row
      val nullNode = head.exists(_._3 > 0)
      head.foreach { case (ab, loose, _) =>
        loose.foreach(add)
        var i = 0
        while (i < ab.length) {
          val a = ab(i); val b = ab(i + 1)
          add(a); add(b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
          i += 2
        }
      }
      // component minimum per root (roots are already minima under the
      // min-directed unions above, but a second pass keeps that invariant
      // independent of union order)
      val minOf = new java.util.HashMap[Long, Long]()
      val it0 = parent.keySet().iterator()
      while (it0.hasNext) {
        val n = it0.next()
        val r = find(n)
        val cur = minOf.getOrDefault(r, Long.MaxValue)
        if (n < cur) minOf.put(r, n)
      }
      val out = new Array[org.apache.spark.sql.Row](parent.size() + (if (nullNode) 1 else 0))
      val it1 = parent.keySet().iterator()
      var i = 0
      while (it1.hasNext) {
        val n = it1.next()
        out(i) = org.apache.spark.sql.Row(n, minOf.get(find(n)))
        i += 1
      }
      if (nullNode) out(i) = org.apache.spark.sql.Row(null, null)
      // nullability mirrors the distributed path's schema (id from a
      // distinct over nullable inputs; cluster_id from a coalesce) so the
      // dumped parquet schema is identical either way
      val schema = new org.apache.spark.sql.types.StructType() // nullable fields
        .add("id", "long").add("cluster_id", "long")
      return spark0.createDataFrame(java.util.Arrays.asList(out: _*), schema)
    }
    // Clone the session and pin the ITERATION's shuffle width there: the
    // caller's session conf is never touched, so a query planned on it
    // mid-loop (shared facade session) keeps its corpus-scale width. The
    // clone starts from Spark's defaults, so it gets the engine's setup.
    val spark = graft.GraftSession.configure(spark0.newSession())
    // lift the checkpointed pairs into the cloned session (RDD blocks are
    // context-scoped, so this re-binds the plan without re-reading data)
    val pc2 = spark.createDataFrame(pc.rdd, pc.schema)
    // nodes is consumed exactly once (the final labels join), and derives
    // from the already-checkpointed pairs — materializing it eagerly was a
    // whole extra job per query for nothing (r16)
    val nodes = pc2.select(col("a").as("id")).union(pc2.select(col("b").as("id")))
      .distinct()
    // orient every edge larger→smaller and drop self-pairs; the iteration
    // maintains this invariant (every rewrite targets a neighborhood min)
    var edges = pc2.where(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint(true)
    // m = min of the closed neighborhood of the window's partition key —
    // one shuffle+sort per half-round, computed over (long, long) rows only
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val m = least(min(col("b")).over(Window.partitionBy(col("a"))), col("a"))
      // attach strictly-larger neighbors to m; each undirected edge passes
      // the b>a gate from exactly one direction, so no distinct needed here
      adj.withColumn("m", m).where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // input oriented a>b, so the closed-neighborhood min of a is min(b)
      val withM = e.withColumn("m", min(col("b")).over(Window.partitionBy(col("a"))))
      withM.select(col("b").as("a"), col("m").as("b"))
        .unionByName(withM.select(col("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
        .distinct()
    }
    // Convergence probe: at the star-forest fixpoint both steps are
    // identity, so the (count, sum a, sum b) triple stops changing — one
    // driver-side aggregate per round instead of a set-difference join
    // (decimal(38) so a corpus-scale sum of 64-bit ids cannot overflow).
    def probe(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)), sum(col("a").cast("decimal(38,0)")),
        sum(col("b").cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }
    var prev = probe(edges)
    // Partition count scales with the edge count, not the session default:
    // iterative shuffles on a candidate-pair graph orders of magnitude
    // smaller than the corpus would otherwise pay a fixed per-task floor
    // every round (measured 10.8 s → 1.9 s at sf0.1 from this alone).
    // r16: the count rides the initial convergence probe (the oriented edge
    // count is the right scale input) instead of a separate count() job;
    // only the orientation shuffle above runs at the session-default width.
    val p = math.max(1L, math.min(spark0.sparkContext.defaultParallelism.toLong,
      prev._1 / 500000L + 1L)).toInt
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    var converged = prev._1 == 0L // empty graph (all pairs were self-pairs)
    var iter = 0
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      // one alternation per checkpoint+probe cycle; the un-checkpointed
      // large-star intermediate only doubles plan depth within the cycle
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
        .select(col("a").as("a"), col("b").as("b")) // fresh attr ids per cycle
      val t1 = System.nanoTime()
      val s = probe(edges)
      converged = s == prev
      prev = s
      iter += 1
      System.err.println(f"[graft-cc] round=$iter edges=${s._1} cycle=${(t1 - t0) / 1e9}%.2fs probe=${(System.nanoTime() - t1) / 1e9}%.2fs converged=$converged")
    }
    // at fixpoint the edges ARE the label map (child → component min);
    // component minima and self-paired-only nodes label themselves
    val labels = nodes.join(edges, col("id") === col("a"), "left")
      .groupBy(col("id"))
      .agg(coalesce(min(col("b")), min(col("id"))).as("cluster_id"))
      // r16: LAZY checkpoint — the eager variant ran a whole extra job just
      // to materialize a result the caller's first action would compute
      // anyway; the lazy mark still caches the blocks on first touch so
      // re-reads don't recompute, and the handoff RDD below stays safe
      .localCheckpoint(false)
    // hand the (small) result back on the CALLER's session so downstream
    // composition never mixes sessions
    spark0.createDataFrame(labels.rdd, labels.schema)
  }

  /** One partition of the CC driver probe as primitive longs: both
    * endpoints of every pair without a null, interleaved (a, b, a, b, …);
    * the non-null endpoints of the pairs with a null; and how many pairs
    * had a null. */
  private def packPairs(rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : Iterator[(Array[Long], Array[Long], Int)] = {
    val ab = Array.newBuilder[Long]
    val loose = Array.newBuilder[Long]
    var nullRows = 0
    rows.foreach { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) {
        nullRows += 1
        if (!r.isNullAt(0)) loose += r.getLong(0)
        if (!r.isNullAt(1)) loose += r.getLong(1)
      } else {
        ab += r.getLong(0)
        ab += r.getLong(1)
      }
    }
    Iterator.single((ab.result(), loose.result(), nullRows))
  }

  /** Brute-force cosine top-k: exact baseline for ANN. Queries broadcast;
    * ranking key is (rounded cosine desc, candidate id) for determinism. */
  def cosineKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms precomputed per vector, not per pair (queries×corpus pairs would
    // otherwise recompute each side's norm |corpus| resp. |queries| times)
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      SF.l2Norm(col(vecCol)).as("qnorm")))
    val c = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      SF.l2Norm(col(vecCol)).as("cnorm"))
    val scored = c.crossJoin(q)
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cosine",
        round(SF.dotProduct(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** IVF-list assignment: nearest coarse centroid by dot product, ties to
    * the smallest centroid index (the deterministic argmin over
    * (-dot, index) structs — no UDF, pure codegen-able array ops; the K
    * centroid vectors inline as literals, hoisted once per plan like the
    * LSH plane literals). One NearestCentroid eval per row, not K boxed
    * dot-product evals — same (-dot, index) argmin, primitive inner loop. */
  private def ivfListId(vec: Column, centroids: Seq[Seq[Double]]): Column =
    SF.nearestCentroid(vec, centroids, useL2 = false)

  /** IVF coarse-quantizer assignment of the whole corpus: one projection
    * over one scan (at production scale the list id is materialized at
    * ingest and the per-list layout becomes the partitioning key). */
  def ivfAssign(corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    corpus.withColumn("list_id", ivfListId(col(vecCol), centroids))

  /** IVF-style approximate nearest neighbors — the inverted-file scale path
    * next to [[cosineKnn]]'s exact baseline and the hyperplane-LSH variant:
    * a fixed coarse quantizer (K centroid vectors, driver-tiny, broadcast
    * as literals) splits the corpus into K lists; a query probes only its
    * `nprobe` nearest lists and brute-forces cosine within the probed
    * candidates. The corpus never shuffles: assignment is a projection on
    * the scan, queries broadcast with their probe arrays, and the
    * candidate join prunes to probed lists before any pair math —
    * candidates drop by ~nprobe/K versus the brute-force cross join.
    * Centroids here are fixed seeds (k-means training is an offline
    * pipeline concern); recall depends on the quantizer like any IVF. */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], nprobe: Int, k: Int): DataFrame = {
    val assigned = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      SF.l2Norm(col(vecCol)).as("cnorm"),
      ivfListId(col(vecCol), centroids).as("list_id"))
    // per-query probe set: the nprobe nearest centroid indices, same
    // (-dot, index) ordering as assignment
    val probeKeyed = centroids.zipWithIndex.map { case (cv, i) =>
      struct((-SF.dotProduct(col(vecCol), typedLit(cv))).as("nd"), lit(i).as("c"))
    }
    val probes = transform(
      slice(sort_array(array(probeKeyed: _*)), 1, nprobe), s => s.getField("c"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      SF.l2Norm(col(vecCol)).as("qnorm"), probes.as("probes")))
    val scored = assigned
      .join(q, array_contains(col("probes"), col("list_id")) &&
        col("cand_id") =!= col("query_id"))
      .withColumn("cosine",
        round(SF.dotProduct(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
  }

  /** Nearest centroid by squared L2 distance, ties to the smallest centroid
    * index. ||x-c||^2 = ||x||^2 - 2 x.c + ||c||^2 and ||x||^2 is constant per
    * row, so the argmin ranks by (||c||^2 - 2 x.c, index) — exactly what
    * [[graft.functions.NearestCentroid]] evaluates in one primitive loop per
    * row (||c||^2 folded in index order, the same sequential double fold
    * VectorDot runs, so an oracle recomputing it from the centroid list
    * lands on the identical double). */
  private def nearestL2(vec: Column, cents: Seq[Seq[Double]]): Column =
    SF.nearestCentroid(vec, cents, useL2 = true)

  /** Lloyd's k-means assignment — the clustering primitive behind
    * SemDeDup-style semantic dedup (Abbas et al. 2023: cluster embeddings
    * coarsely, then prune cosine near-duplicates WITHIN each cluster so the
    * pair volume is cluster-bounded instead of corpus-quadratic).
    *
    * Deterministic across engines by construction: caller-fixed seed
    * centroids (no RNG), a fixed iteration count, and element-wise means
    * rounded to 6 decimals between iterations (Spark-side `round`, the same
    * half-up the DuckDB oracle applies) so cross-partition double-summation
    * order cannot leak into the next assignment.
    *
    * Scale shape (100 TB): centroids are k×d driver literals broadcast in
    * the plan; each iteration is ONE corpus scan feeding a partial-agg
    * groupBy with d `avg` columns — no explode (which would shuffle n×d
    * rows), no shuffle of vectors, map-side combine throughout. Driver
    * traffic is k×d rounded doubles per iteration, like dedup_clusters'
    * 3-number convergence probe. The loop re-reads the corpus `iters` times;
    * at scale persist the projected (id, vector) columns once up front
    * (MLlib's KMeans iterates against a cached RDD the same way). Returns
    * the input plus an int `cluster` column. */
  def kmeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
      init: Seq[Seq[Double]], iters: Int): DataFrame =
    corpus.withColumn("cluster",
      nearestL2(col(vecCol), kmeansCentroids(corpus, vecCol, init, iters)))

  /** The centroids [[kmeansAssign]] would assign against: `iters - 1`
    * Lloyd's update rounds from the fixed seeds (iters = 1 returns the
    * seeds unchanged). Public so the trained matrix can feed [[ivfKnn]] as
    * its coarse quantizer — training tightens the Voronoi cells around the
    * data, which is what sets IVF recall at a given nprobe (the seeds-only
    * quantizer is the zero-training baseline). Same determinism and scale
    * contract as [[kmeansAssign]]. */
  def kmeansCentroids(corpus: DataFrame, vecCol: String,
      init: Seq[Seq[Double]], iters: Int): Seq[Seq[Double]] = {
    require(init.nonEmpty && iters >= 1, "kmeans needs >= 1 centroid and iteration")
    val dim = init.head.length
    var cents = init
    for (_ <- 1 until iters) {
      val assigned = corpus.withColumn("__c", nearestL2(col(vecCol), cents))
      val aggs = (0 until dim).map(i =>
        round(avg(element_at(col(vecCol), i + 1)), 6).as(s"m$i"))
      val rows = assigned.groupBy(col("__c")).agg(aggs.head, aggs.tail: _*).collect()
      val byC = rows.map { r =>
        r.getInt(0) -> (0 until dim).map(i => r.getDouble(i + 1)).toSeq
      }.toMap
      // a cluster that captured no points keeps its previous centroid
      cents = cents.indices.map(c => byC.getOrElse(c, cents(c)))
    }
    cents
  }

  /** Same-bucket cosine pairs with HOT-BUCKET SALTING — the scale guard for
    * skewed LSH buckets (SCALE.md watch item: sf10 max bucket 694 vs mean
    * ~150; the within-bucket term is quadratic in the HOTTEST bucket, so
    * residual skew concentrates the whole join's tail latency in one task).
    *
    * Members of a bucket with m > saltCap rows get a deterministic salt
    * s ∈ [0, g), g = ceil(m / saltCap), and the self-join enumerates salt
    * BLOCK pairs — `sa < sb`, plus the `sa == sb` diagonal ordered by id —
    * a triangle join whose largest single block is ~saltCap² comparisons
    * regardless of bucket size. The output is IDENTICAL to the plain
    * same-bucket self-join: each unordered pair appears exactly once
    * (same-salt blocks dedup by id order; cross-salt blocks by salt order,
    * re-normalized to id order in the result), verified pairwise in
    * SimilaritySpec with a forced 1-row cap.
    *
    * Input columns: idCol, vecCol (ARRAY<DOUBLE>), normCol (precomputed L2
    * norm), bucketCol. Output: (id_a < id_b, bucket, cosine >= minCosine).
    */
  def saltedBucketPairs(all: DataFrame, idCol: String, vecCol: String,
      normCol: String, bucketCol: String, minCosine: Double,
      saltCap: Int = 256): DataFrame = {
    // per-bucket group count; the join on bucketCol shares the partitioning
    // of the pair join below (counts are tiny: one row per bucket)
    val counts = all.groupBy(col(bucketCol)).agg(count(lit(1)).as("__m"))
    val salted = all.join(counts, Seq(bucketCol))
      .withColumn("__g",
        greatest(lit(1L), ceil(col("__m").cast("double") / saltCap)).cast("int"))
      .withColumn("__salt", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
    val a = salted.select(col(bucketCol).as("__bkt"), col("__salt").as("__sa"),
      col(idCol).as("__ida"), col(vecCol).as("__va"), col(normCol).as("__na"))
    val b = salted.select(col(bucketCol).as("__bkt_b"), col("__salt").as("__sb"),
      col(idCol).as("__idb"), col(vecCol).as("__vb"), col(normCol).as("__nb"))
    a.join(b, col("__bkt") === col("__bkt_b") &&
        (col("__sa") < col("__sb") ||
          (col("__sa") === col("__sb") && col("__ida") < col("__idb"))))
      .withColumn("cosine",
        round(SF.dotProduct(col("__va"), col("__vb")) / (col("__na") * col("__nb")), 6))
      .filter(col("cosine") >= minCosine)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"),
        col("__bkt").as("bucket"), col("cosine"))
  }

  /** LSH-bucketed ANN (scale path): random-hyperplane bucket per vector,
    * then exact cosine only within the query's bucket. At 100 TB the corpus
    * is pre-bucketed and bucket-partitioned, so a query touches one
    * partition (IVF-style probe=1). */
  def lshAnn(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, planes: Int, dim: Int): DataFrame = {
    val bucketed = corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cvec"),
      SF.l2Norm(col(vecCol)).as("cnorm"),
      SF.hyperplaneBucket(col(vecCol), planes, dim).as("bucket"))
    val qb = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      SF.l2Norm(col(vecCol)).as("qnorm"),
      SF.hyperplaneBucket(col(vecCol), planes, dim).as("qbucket")))
    val scored = bucketed.join(qb, col("bucket") === col("qbucket"))
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("cosine",
        round(SF.dotProduct(col("qvec"), col("cvec")) / (col("qnorm") * col("cnorm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("cand_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "bucket", "cand_id", "cosine", "rank")
  }
}
