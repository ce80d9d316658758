package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sources.Artifacts

/** HNSW (Malkov & Yashunin 2016, arXiv:1603.09320) as a SHARDED Spark
  * index — the graph-based ANN family beside the LSH / IVF / PQ lanes,
  * and the one with the best recall-per-distance-computation at serving
  * time.
  *
  * An HNSW graph is pointer-chasing state, so it cannot be a Catalyst
  * expression; the Spark-native shape is the industry serving design
  * (FAISS/Vespa/Milvus style): shard the corpus, build one independent
  * graph per shard inside `mapPartitions` (the same justified-imperative
  * seam as the media codecs), fan each query out to every shard, merge
  * per-shard candidates with the k-bounded heap. Build is embarrassingly
  * parallel and one pass; the graph is SERIALIZED to a DataFrame (one
  * row per node: level + per-level adjacency + vector) and
  * session-staged, so probes search a prebuilt structure — the bench's
  * build/probe split measures what production measures.
  *
  * Determinism (gate-critical): node levels are a pure md5 function of
  * vec_id (the paper's geometric distribution, seeded by content, not
  * RNG state); insertion order is ascending vec_id within a shard;
  * shard assignment is `vec_id % shards`; every heap/selection order
  * breaks distance ties by vec_id. Two builds of the same corpus are
  * byte-identical.
  *
  * Exactness at the gate: the registered `ann_hnsw_topk` lane re-ranks
  * the graph's candidates through the SAME codegen'd cosine + heap
  * top-k as the brute-force truth lane, so its oracle is the
  * brute-force SQL itself — the gate pins recall@k = 1.0 at the
  * operating point ([[Params]]: M=16, efC=128, efS=128) on the gate
  * corpora. The `ann_hnsw_recall` lane runs the APPROXIMATE regime
  * (efS=16) under the same exact-integer hits/k contract as the other
  * recall rows, floor-pinned in HnswSpec. See [[Params]] for the
  * measured limit of the exact contract beyond the gate SFs.
  *
  * Scale: shards = ceil(n / targetShardRows) — per-shard memory is
  * constant (vectors + M·levels longs per node), build cost per shard
  * is n_shard·efC·log(n_shard) distance evaluations, and the whole
  * build is one shuffle + one mapPartitions however large the corpus.
  * Probe cost per query is shards · efS · log(n_shard): the classic
  * sharded-HNSW trade — aggregate throughput scales with executors,
  * per-query fan-out grows with shard count (IVF prunes shards instead;
  * that's why both families exist). The broadcast query set mirrors the
  * other ANN lanes' eval harness; production queries arrive as their
  * own bounded batches.
  */
object Hnsw {

  /** The registered operating point. M=16 (degree 32 at layer 0) with
    * efC/efS = 128: the test corpus embeddings are near-isotropic
    * (weak neighbor structure — the hard case for graph ANN), and the
    * gate lane pins recall 1.0 at the gate corpora (sf0.01, sf0.1,
    * seed-1337 fuzz), where the beam still visits ≲10% of a shard.
    *
    * Measured limit of the exact contract (sf1 drill, 20k vectors,
    * 800 truth slots): ONE slot misses at efS 128 AND 256, at
    * efC 256, and at halved shards (a different slot each time);
    * only a shard-exhaustive beam (efS ≥ shard rows) closes it. That
    * is the textbook HNSW residual on structureless vectors —
    * distances concentrate, navigability carries ~0.1% irreducible
    * miss — and the reason production retrieval pairs a graph index
    * with exact re-rank or accepts recall < 1. Beyond the gate SFs
    * the contract is therefore the RECALL FLOOR, not byte equality:
    * HnswSpec pins the sf1 exact-point residual at ≤ 2 missed slots
    * (measured: 1 of 800), so a count jump reads as a real build
    * regression.
    */
  final case class Params(m: Int = 16, efConstruction: Int = 128, efSearch: Int = 128)

  /** Node level: geometric with p = 1/M via LEADING ZEROS of the
    * md5-uniform of vec_id — level = lz60 / log2(M) over the first 60
    * md5 bits, so P(level ≥ k) = 2^(−k·log2 M) = M^−k, the paper's
    * distribution (§4.1) as a PURE-INTEGER construction. The textbook
    * floor(−ln(u)·mL) would tie the level histogram to libm rounding;
    * this one is engine-neutral, so `ann_hnsw_levels` can be
    * oracle-gated in SQL (the same 15-hex-digit md5 parse as the LSH
    * plane weights). M must be a power of two. Pure function of
    * (vec_id, M): levels survive rebuilds and shard moves.
    */
  private[graft] def levelOf(vecId: Long, m: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hnsw_$vecId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 15)
    val v = java.lang.Long.parseLong(hex, 16) // 60 bits, non-negative
    val lz60 = java.lang.Long.numberOfLeadingZeros(v) - 4
    math.min(30, lz60 / bitsPerLevel(m))
  }

  /** log2(M): the level codec's bits-per-level — the ONE divisor shared
    * by [[levelOf]] and the generated `ann_hnsw_levels` oracle SQL
    * ([[graft.SparkEntry]]), so engine and oracle cannot disagree on M.
    */
  private[graft] def bitsPerLevel(m: Int): Int = {
    require(m >= 2 && Integer.bitCount(m) == 1, s"M must be a power of two, got $m")
    31 - Integer.numberOfLeadingZeros(m)
  }

  /** One shard's graph, built in insertion order over normalized
    * vectors. Distance = 1 − cosine on unit vectors (monotone in dot
    * product); all orderings tie-break by node index (= vec_id order).
    *
    * `l2 = true` switches the metric to squared L2 — the SQ8 serving
    * tier's walk, whose vectors are decoded integer micro-values
    * (magnitudes < 2²⁴; sums of 64 squared diffs stay < 2⁵³, so every
    * distance is an EXACT integer-valued double and the walk is
    * bit-deterministic like the cosine one).
    */
  private[operators] final class Graph(m: Int, efC: Int,
                                       l2: Boolean = false) {
    import scala.collection.mutable
    private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    private[operators] val ids = mutable.ArrayBuffer.empty[Long]
    private[operators] val levels = mutable.ArrayBuffer.empty[Int]
    // nbrs(node)(level) = neighbor node indices
    private[operators] val nbrs = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var maxLevel = -1

    private def maxConn(level: Int): Int = if (level == 0) 2 * m else m

    private def dist(v: Array[Double], node: Int): Double = {
      val w = vecs(node)
      var s = 0.0
      var i = 0
      if (l2) {
        while (i < v.length) { val d = v(i) - w(i); s += d * d; i += 1 }
        s
      } else {
        while (i < v.length) { s += v(i) * w(i); i += 1 }
        1.0 - s
      }
    }

    /** Beam search at one level: returns up to `ef` nearest (dist, node)
      * ascending. Entry points must be alive nodes.
      */
    private def searchLayer(v: Array[Double], eps: Seq[Int], ef: Int,
                            level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = new java.util.BitSet(vecs.size)
      // min-heap of frontier, max-heap of best — both ordered (dist, id)
      val frontier = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.Tuple2[Double, Int].reverse)
      val best = mutable.PriorityQueue.empty[(Double, Int)] // max first
      eps.foreach { e =>
        if (!visited.get(e)) {
          visited.set(e)
          val d = dist(v, e)
          frontier.enqueue((d, e)); best.enqueue((d, e))
        }
      }
      while (best.size > ef) best.dequeue()
      while (frontier.nonEmpty) {
        val (d, c) = frontier.dequeue()
        if (d > best.head._1 && best.size >= ef) frontier.clear()
        else {
          val ns = nbrs(c)(level)
          var i = 0
          while (i < ns.length) {
            val e = ns(i)
            if (!visited.get(e)) {
              visited.set(e)
              val de = dist(v, e)
              val better = best.size < ef ||
                de < best.head._1 || (de == best.head._1 && e < best.head._2)
              if (better) {
                frontier.enqueue((de, e)); best.enqueue((de, e))
                if (best.size > ef) best.dequeue()
              }
            }
            i += 1
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      while (best.nonEmpty) out += best.dequeue()
      out.sortInPlace()
    }

    private def distNodes(a: Int, b: Int): Double = dist(vecs(a), b)

    /** The paper's diversifying selection (Algorithm 4 with
      * keepPrunedConnections): walk candidates nearest-first, keep one
      * only if it is closer to the base than to every already-kept
      * neighbor — spreading edges across directions instead of
      * clustering them — then fill the remainder from the pruned pool.
      * Deterministic: candidates arrive (dist, id)-sorted.
      */
    private def selectHeuristic(base: Int, cands: Seq[(Double, Int)],
                                cap: Int): Seq[Int] = {
      val kept = mutable.ArrayBuffer.empty[(Double, Int)]
      val pruned = mutable.ArrayBuffer.empty[(Double, Int)]
      cands.foreach { case (d, c) =>
        if (kept.size < cap) {
          if (kept.forall { case (_, r) => d < distNodes(c, r) }) kept += ((d, c))
          else pruned += ((d, c))
        }
      }
      (kept ++ pruned.take(cap - kept.size)).sortInPlace().map(_._2).toSeq
    }

    private def connect(a: Int, b: Int, level: Int): Unit = {
      val list = nbrs(a)(level)
      if (!list.contains(b)) {
        list += b
        val cap = maxConn(level)
        if (list.length > cap) {
          val va = vecs(a)
          val cands = list.map(n => (dist(va, n), n)).sortInPlace().toSeq
          val kept = selectHeuristic(a, cands, cap)
          list.clear(); list ++= kept
        }
      }
    }

    def insert(id: Long, vec: Array[Double]): Unit = {
      val node = vecs.size
      val level = levelOf(id, m)
      vecs += vec; ids += id; levels += level
      nbrs += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = node; maxLevel = level; return }
      var eps = Seq(entry)
      var lev = maxLevel
      while (lev > level) { // greedy descent above the node's top level
        eps = Seq(searchLayer(vec, eps, 1, lev).head._2)
        lev -= 1
      }
      while (lev >= 0) {
        val w = searchLayer(vec, eps, efC, lev)
        selectHeuristic(node, w.toSeq, m)
          .foreach { n => connect(node, n, lev); connect(n, node, lev) }
        eps = w.map(_._2).toSeq
        lev -= 1
      }
      if (level > maxLevel) { maxLevel = level; entry = node }
    }

    /** Top-`ef` candidate vec_ids for a query vector, nearest first. */
    def search(vec: Array[Double], ef: Int): Seq[Long] = {
      if (entry < 0) return Seq.empty
      var eps = Seq(entry)
      var lev = maxLevel
      while (lev > 0) {
        eps = Seq(searchLayer(vec, eps, 1, lev).head._2)
        lev -= 1
      }
      searchLayer(vec, eps, ef, 0).map(t => ids(t._2)).toSeq
    }

    /** [[search]] with each candidate's walk distance — the compressed
      * tier's cross-shard merge key (exact integer-valued doubles in
      * l2 mode, so the merge order is engine-deterministic).
      */
    def searchScored(vec: Array[Double], ef: Int): Seq[(Long, Double)] = {
      if (entry < 0) return Seq.empty
      var eps = Seq(entry)
      var lev = maxLevel
      while (lev > 0) {
        eps = Seq(searchLayer(vec, eps, 1, lev).head._2)
        lev -= 1
      }
      searchLayer(vec, eps, ef, 0).map(t => (ids(t._2), t._1)).toSeq
    }

    /** Reconstruction: register a node WITHOUT wiring (same entry rule
      * as insert — the first node, in load order, to raise maxLevel —
      * so loading in vec_id order reproduces the built graph's entry).
      * Returns the node index; wire adjacency with [[wire]].
      */
    def load(id: Long, vec: Array[Double], level: Int): Int = {
      val node = vecs.size
      vecs += vec; ids += id; levels += level
      nbrs += Array.fill(level + 1)(mutable.ArrayBuffer.empty[Int])
      if (level > maxLevel) { maxLevel = level; entry = node }
      node
    }

    def wire(node: Int, level: Int, neighbors: Seq[Int]): Unit =
      nbrs(node)(level) ++= neighbors
  }

  private[operators] def normalize(v: Seq[Float]): Array[Double] = {
    val a = new Array[Double](v.length)
    var s = 0.0
    var i = 0
    while (i < v.length) { a(i) = v(i).toDouble; s += a(i) * a(i); i += 1 }
    val n = math.sqrt(s)
    if (n > 0) { i = 0; while (i < a.length) { a(i) /= n; i += 1 } }
    a
  }

  /** Serialized node: shard, id, level, per-level adjacency (as vec_ids
    * — shard-internal, so reconstruction is a local map), vector.
    */
  final case class Node(shard: Int, vec_id: Long, level: Int,
                        nbrs: Seq[Seq[Long]], embedding: Seq[Float])

  /** One shard's probe work unit off the bucketed store: the shard's
    * serialized nodes (shard-local collect_list) + its query slice.
    * `ver` is the log-structured store's row version — reconstruction
    * keeps only the latest row per vec_id (see
    * [[insertIntoBucketedStore]]).
    */
  final case class StoredNode(vec_id: Long, level: Int,
                              nbrs: Seq[Seq[Long]], embedding: Seq[Float],
                              ver: Long)
  final case class QVec(q_id: Long, q_emb: Seq[Float])
  final case class ShardProbe(shard: Int, nodes: Seq[StoredNode], qs: Seq[QVec])

  private def shardCount(n: Long, targetShardRows: Int): Int =
    math.max(1, math.min(64, math.ceil(n.toDouble / targetShardRows).toInt))

  /** Build the sharded graph as a DataFrame — one mapPartitions after
    * one shuffle on `vec_id % shards`; rebuilt identically from the
    * same corpus. Session-staged under the (m, efC) operating point.
    */
  def ensureGraph(spark: SparkSession, dir: String, params: Params = Params(),
                  targetShardRows: Int = 4096): DataFrame =
    StageMemo.memoized(spark,
      s"hnsw_graph_${params.m}_${params.efConstruction}_$targetShardRows", dir) {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val shards = shardCount(emb.count(), targetShardRows)
      emb.withColumn("shard", (col("vec_id") % shards).cast("int"))
        .repartition(shards, col("shard"))
        .as[(Long, Seq[Float], Int)]
        .mapPartitions { it =>
          // one graph PER SHARD VALUE: hash partitioning may co-locate
          // several shards in a partition, and each shard's adjacency
          // must be self-contained for partition-local reconstruction
          it.toArray.groupBy(_._3).toSeq.sortBy(_._1).iterator.flatMap {
            case (shard, rowsUnsorted) =>
              val rows = rowsUnsorted.sortBy(_._1) // insertion order = vec_id
              val g = new Graph(params.m, params.efConstruction)
              rows.foreach { case (id, v, _) => g.insert(id, normalize(v)) }
              rows.indices.iterator.map { i =>
                Node(shard, g.ids(i), g.levels(i),
                  g.nbrs(i).toSeq.map(_.toSeq.map(g.ids(_)).sorted),
                  rows(i)._2)
              }
          }
        }
        .toDF()
    }

  /** Search every shard's graph for every query: (q_id, vec_id)
    * candidate pairs, up to efSearch per (query, shard). The staged
    * graph's partitioning (one shard per build partition) is preserved
    * by the cache, so reconstruction is partition-local.
    */
  def candidates(spark: SparkSession, dir: String, queryStride: Int = 50,
                 params: Params = Params(),
                 targetShardRows: Int = 4096): DataFrame =
    searchGraph(spark, ensureGraph(spark, dir, params, targetShardRows),
      Tables.embeddings(spark, dir), queryStride, params)

  /** The probe half over an already-staged graph DataFrame — fully
    * DISTRIBUTED on both sides: the query set stays a DataFrame end to
    * end (fanned out to every shard by a crossJoin whose BROADCAST side
    * is the ≤|shards|-row shard-id list — bounded planning metadata,
    * the only thing that ever passes through the driver), and each
    * shard's graph is reconstructed inside a cogroup that pairs the
    * shard's serialized nodes with its replicated query slice. An
    * offline dedup-by-query batch of millions of probes therefore
    * scales with executors, never the driver — the previous shape
    * collect()ed the query vectors driver-side, the one remaining
    * driver-bound term in the ANN family (fine for bounded serving
    * traffic, a bottleneck for offline batches).
    *
    * Shuffle accounting: the cogroup repartitions graph nodes +
    * queries×shards fanout rows by shard — one corpus-sized exchange
    * per probe BATCH (not per query), the standard shared-nothing
    * scatter-gather; a deployment serving many batches against a
    * static graph pins the grouped layout once with a bucketed store.
    */
  private[operators] def searchGraph(spark: SparkSession, graphDf: DataFrame,
                                     emb: DataFrame, queryStride: Int,
                                     params: Params): DataFrame = {
    import spark.implicits._
    val graph = graphDf.as[Node]
    val queries = emb
      .filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val shardIds = graphDf.select(col("shard")).distinct()
    val fanout = queries.crossJoin(broadcast(shardIds))
      .select(col("shard"), col("q_id"), col("q_emb"))
      .as[(Int, Long, Seq[Float])]
    val ef = params.efSearch
    val (m, efC) = (params.m, params.efConstruction)
    graph.groupByKey(_.shard).cogroup(fanout.groupByKey(_._1)) {
      (_, nodesIt, qIt) =>
        // query-empty first: a shard with no probes must not pay
        // nodesIt.toArray + reconstruct for an empty flatMap
        if (!qIt.hasNext) Iterator.empty
        else {
          val nodes = nodesIt.toArray
          if (nodes.isEmpty) Iterator.empty
          else {
            val g = reconstruct(nodes, Params(m, efC, ef))
            qIt.flatMap { case (_, qid, qv) =>
              g.search(normalize(qv), ef).iterator.filter(_ != qid).map(v => (qid, v))
            }
          }
        }
    }.toDF("q_id", "vec_id")
  }

  /** Rebuild one shard's in-memory graph from serialized nodes, in
    * vec_id order (the same entry rule as [[Graph.load]] — shared by
    * every probe and by the store's insert path, so a graph means the
    * same thing however it reaches memory).
    */
  private def reconstruct(shardNodes: Array[Node], params: Params): Graph = {
    val sorted = shardNodes.sortBy(_.vec_id)
    val g = new Graph(params.m, params.efConstruction)
    val index = sorted.iterator.zipWithIndex
      .map { case (n, i) => n.vec_id -> i }.toMap
    sorted.foreach(n => g.load(n.vec_id, normalize(n.embedding), n.level))
    sorted.iterator.zipWithIndex.foreach { case (n, i) =>
      n.nbrs.iterator.zipWithIndex.foreach { case (ns, lev) =>
        // flatMap: a neighbor id absent from the shard is a DANGLING
        // edge left by a tombstoned delete ([[removeFromBucketedStore]])
        // — dropped, never an error
        g.wire(i, lev, ns.flatMap(index.get))
      }
    }
    g
  }

  /** Emit one shard's built graph as serialized nodes (embeddings
    * re-read from `rows`, which the graph inserted in this order).
    */
  private def emitNodes(shard: Int, g: Graph,
                        embs: IndexedSeq[Seq[Float]]): Iterator[Node] =
    embs.indices.iterator.map { i =>
      Node(shard, g.ids(i), g.levels(i),
        g.nbrs(i).toSeq.map(_.toSeq.map(g.ids(_)).sorted), embs(i))
    }

  /** Per-shard from-scratch graph construction (vec_id-order inserts)
    * for [[buildBucketedStore]].
    */
  private def builtShardNodes(spark: SparkSession,
                              rows: org.apache.spark.sql.Dataset[(Long, Seq[Float], Int)],
                              shards: Int, params: Params)
      : org.apache.spark.sql.Dataset[Node] = {
    import spark.implicits._
    // `as[T]` keeps source column names — address the shard column
    // (always third) positionally
    rows.repartition(shards, col(rows.columns(2)))
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).toSeq.sortBy(_._1).iterator.flatMap {
          case (shard, rowsUnsorted) =>
            val sorted = rowsUnsorted.sortBy(_._1)
            val g = new Graph(params.m, params.efConstruction)
            sorted.foreach { case (id, v, _) => g.insert(id, normalize(v)) }
            emitNodes(shard, g, sorted.map(_._2).toIndexedSeq)
        }
      }
  }

  // ── Bucketed graph store (the repeat-batch SERVING layout):
  // [[searchGraph]]'s cogroup re-shuffles the corpus-sized graph on
  // every probe batch — the right price for ONE huge offline batch,
  // pure waste for a standing deployment probing a static graph many
  // times. Here the Node rows persist as a catalog table BUCKETED by
  // shard (BucketedTables — the dedup_incremental_bucketed
  // discipline), so every batch after the first reads its shard
  // groups in place: the per-shard collect_list rides the bucketing
  // with NO store-side Exchange (HnswStoreSpec pins it on the second
  // batch), and only the query batch moves — one |Q|×shards fanout
  // exchange, proportional to the batch, never to the corpus. ──

  /** Probe half over the bucketed store: shard graphs reassembled by a
    * bucket-local collect_list, query batch fanned out to every shard
    * (scatter-gather, no driver funnel), co-partitioned merge join
    * (the hint pins SMJ so stats noise can never "optimize" this into
    * broadcasting the corpus-sized store side), per-shard reconstruct
    * + beam search in one flatMap.
    */
  private[operators] def probeBucketedStore(spark: SparkSession, table: String,
                                            emb: DataFrame, queryStride: Int,
                                            params: Params): DataFrame = {
    import spark.implicits._
    val store = spark.table(table)
    val shardBlobs = store.groupBy(col("shard"))
      .agg(collect_list(struct(
        col("vec_id"), col("level"), col("nbrs"), col("embedding"),
        col("ver"))).as("nodes"))
    val shardIds = store.select(col("shard")).distinct() // ≤ shards rows
    val qGrouped = emb.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(shardIds))
      .groupBy(col("shard"))
      .agg(collect_list(struct(col("q_id"), col("q_emb"))).as("qs"))
    val p = params
    // the cache key's mtime component: the store's completion marker
    // moves on every rebuild AND every insert, so a changed store can
    // never be served stale graphs (resolved driver-side, a long in
    // the closure)
    val storeVersion = storeMarkerMtime(spark, table)
    shardBlobs.join(qGrouped.hint("merge"), Seq("shard"))
      .select(col("shard"), col("nodes"), col("qs"))
      .as[ShardProbe]
      .flatMap { sp =>
        val g = cachedShardGraph(table, sp.shard, storeVersion) {
          reconstruct(latestNodes(sp.shard, sp.nodes), p)
        }
        sp.qs.iterator.flatMap(q =>
          g.search(normalize(q.q_emb), p.efSearch).iterator
            .filter(_ != q.q_id).map(v => (q.q_id, v)))
      }
      .toDF("q_id", "vec_id")
  }

  /** Collapse a shard's log-structured rows to the latest version per
    * vec_id — the read half of [[insertIntoBucketedStore]]'s
    * append-only maintenance. A latest row with level < 0 is a
    * TOMBSTONE ([[removeFromBucketedStore]]): the node is dropped and
    * its id stripped from the survivors' adjacency (the bucketed
    * layout cannot keep dead nodes as routers — tombstone rows carry
    * no vector), so reconstruction never dangles.
    */
  private def latestNodes(shard: Int, rows: Seq[StoredNode]): Array[Node] = {
    val latest = new java.util.HashMap[Long, StoredNode]()
    rows.foreach { n =>
      val prev = latest.get(n.vec_id)
      if (prev == null || n.ver > prev.ver) latest.put(n.vec_id, n)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Node]
    val it = latest.values().iterator()
    while (it.hasNext) {
      val n = it.next()
      if (n.level >= 0)
        out += Node(shard, n.vec_id, n.level, n.nbrs, n.embedding)
    }
    // survivors' adjacency may still reference the dropped ids —
    // [[reconstruct]] treats unknown neighbors as dangling and skips
    // them, so no stripping pass is needed here
    out.toArray
  }

  /** Tombstoned DELETE on the bucketed serving store: one log row per
    * victim (level = −1, no vector) under the next version — pure
    * append, pre-existing files untouched, replay-safe by idempotence
    * of the mark (re-marking a dead id changes nothing a probe can
    * see). Probes drop dead nodes at reconstruction ([[latestNodes]]);
    * [[compactBucketedStore]] physically removes both the history and
    * the tombstone, after which the id is re-insertable. Until then a
    * re-insert of a marked id is a no-op (the anti-join sees the
    * tombstone row). Pinned in AnnDeleteSpec and CompactionPolicySpec.
    */
  def removeFromBucketedStore(spark: SparkSession, table: String,
                              ids: DataFrame): Unit = {
    import spark.implicits._
    val store = spark.table(table)
    val meta = store.agg(
      max(col("shard")).as("max_shard"), max(col("ver")).as("max_ver")).head
    val shards = meta.getInt(0) + 1
    val nextVer = meta.getLong(1) + 1L
    val tombs = ids.select(col("vec_id").cast("long"))
      .distinct()
      .select(
        (col("vec_id") % shards).cast("int").as("shard"),
        col("vec_id"), lit(-1).as("level"),
        typedLit(Seq.empty[Seq[Long]]).as("nbrs"),
        typedLit(Seq.empty[Float]).as("embedding"),
        lit(nextVer).as("ver"))
    graft.sources.BucketedTables.appendBucketed(tombs, table, "shard")
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  // ── Executor-resident graph cache: [[probeBucketedStore]] is the
  // repeat-batch SERVING path, and reconstructing every shard's
  // adjacency + renormalizing its vectors per batch was its remaining
  // per-batch corpus cost. Reconstructed graphs are cached per
  // executor JVM keyed (table, shard, store version), SOFT references
  // so memory pressure evicts graphs before anything OOMs (an evicted
  // shard just reconstructs on its next probe). Graphs are read-only
  // after construction (search allocates all per-call state), so
  // concurrent probe tasks can share one instance safely. ──

  private val shardGraphCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Int, Long), java.lang.ref.SoftReference[Graph]]()

  /** Probe-path reconstructions since JVM start — HnswStoreSpec counts
    * these across batches (second batch = 0) and across a rebuild.
    */
  private[operators] val probeReconstructs =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def cachedShardGraph(table: String, shard: Int, version: Long)
                              (build: => Graph): Graph = {
    val key = (table, shard, version)
    val ref = shardGraphCache.get(key)
    val hit = if (ref != null) ref.get() else null
    if (hit != null) hit
    else {
      val g = build
      probeReconstructs.incrementAndGet()
      // drop superseded versions of this shard before publishing the
      // new one — a rebuilt store must not pin the old graphs alive
      val it = shardGraphCache.keySet.iterator()
      while (it.hasNext) {
        val k = it.next()
        if (k._1 == table && k._2 == shard && k._3 != version) it.remove()
      }
      shardGraphCache.put(key, new java.lang.ref.SoftReference(g))
      g
    }
  }

  /** The serving store's version stamp: its completion marker's mtime
    * (0 when absent — e.g. a spec probing an unmarked table; such a
    * probe still caches consistently within that store state).
    */
  private def storeMarkerMtime(spark: SparkSession, table: String): Long = {
    val p = Artifacts.tableMarker(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getFileStatus(p).getModificationTime else 0L
  }

  /** One bucketed store per (dir, operating point), built from the
    * session-staged graph as an [[Artifacts.table]]; the name carries
    * [[Search.dirHash]] so distinct dirs can never collide onto one
    * table.
    */
  def ensureBucketedGraphStore(spark: SparkSession, dir: String,
                               params: Params = Params(),
                               targetShardRows: Int = 4096): String = {
    // _v2: the log-structured schema (ver column) — a fresh slug, so a
    // warehouse carrying the pre-ver layout rebuilds instead of failing
    // the probe's ver select
    val name = s"graft_hnsw_store_v2_${params.m}_${params.efConstruction}_" +
      s"${targetShardRows}_" + Search.dirHash(dir)
    Artifacts.table(spark, name) {
      graft.sources.BucketedTables.writeBucketed(
        ensureGraph(spark, dir, params, targetShardRows)
          .withColumn("ver", lit(0L)), name, "shard")
    }
    name
  }

  /** Insert a vector batch into the BUCKETED serving store — HNSW's
    * native ingest at rest, under the constraint that a bucketed table
    * supports only APPEND maintenance (no per-partition overwrite): the
    * store is log-structured. The
    * batch narrows to never-seen vec_ids (replay ⇒ zero writes), the
    * touched shards' latest graphs are reconstructed and the rows
    * inserted, and the append ships ONLY the new nodes plus the
    * existing nodes the inserts REWIRED, stamped with the next version;
    * probes collapse to the latest row per vec_id ([[latestNodes]]).
    * Pre-existing bucket files stay byte-identical (append-only — the
    * [[graft.sources.BucketedTables.appendBucketed]] contract), and the
    * completion marker is re-touched so the executor graph cache's
    * version stamp moves. [[compactBucketedStore]] bounds the log.
    */
  def insertIntoBucketedStore(spark: SparkSession, table: String,
                              batch: DataFrame,
                              params: Params = Params()): Unit = {
    import spark.implicits._
    val store = spark.table(table)
    val meta = store.agg(
      max(col("shard")).as("max_shard"), max(col("ver")).as("max_ver")).head
    val shards = meta.getInt(0) + 1
    val nextVer = meta.getLong(1) + 1L
    val fresh = batch.select(col("vec_id"), col("embedding"))
      .join(store.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("shard", (col("vec_id") % shards).cast("int"))
      .as[(Long, Seq[Float], Int)]
    val touched = fresh.select(col("shard")).distinct()
      .collect().map(_.getInt(0)) // ≤ shards — bounded planning metadata
    if (touched.isEmpty) return
    val existing = store
      .filter(col("shard").isin(touched.map(Integer.valueOf): _*))
      .select(col("shard"), col("vec_id"), col("level"), col("nbrs"),
        col("embedding"), col("ver"))
    val p = params
    val delta = existing.as[(Int, Long, Int, Seq[Seq[Long]], Seq[Float], Long)]
      .groupByKey(_._1)
      .cogroup(fresh.groupByKey(_._3)) { (shard, nodesIt, batchIt) =>
        val latest = latestNodes(shard,
          nodesIt.map(r => StoredNode(r._2, r._3, r._4, r._5, r._6)).toSeq)
        val before = latest.map(n => n.vec_id -> (n.level, n.nbrs)).toMap
        val adds = batchIt.toArray.sortBy(_._1)
        val g = reconstruct(latest, p)
        adds.foreach { case (id, v, _) => g.insert(id, normalize(v)) }
        val embs = latest.sortBy(_.vec_id).map(_.embedding) ++ adds.map(_._2)
        // ship only what changed: new nodes, plus rewired existing ones
        emitNodes(shard, g, embs.toIndexedSeq).filter { n =>
          before.get(n.vec_id) match {
            case None => true
            case Some((lvl, nb)) => lvl != n.level || nb != n.nbrs
          }
        }
      }
    graft.sources.BucketedTables.appendBucketed(
      delta.toDF().withColumn("ver", lit(nextVer)), table, "shard")
    // bump the executor graph cache's version stamp
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** Build a bucketed serving store from an arbitrary base vector set —
    * the seam the streaming ingest sink
    * ([[graft.streaming.StreamingHnsw.bucketedInsertSink]]) grows from.
    */
  def buildBucketedStore(spark: SparkSession, base: DataFrame, table: String,
                         shards: Int, params: Params = Params()): Unit = {
    import spark.implicits._
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
    graft.sources.FsPaths.deleteRecursively(spark,
      graft.sources.FsPaths.warehouseTablePath(spark, table))
    graft.sources.BucketedTables.writeBucketed(
      builtShardNodes(spark,
        base.select(col("vec_id"), col("embedding"))
          .withColumn("shard", (col("vec_id") % shards).cast("int"))
          .as[(Long, Seq[Float], Int)], shards, params)
        .toDF().withColumn("ver", lit(0L)), table, "shard")
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** Exact top-k probe of an arbitrary bucketed store table — the
    * [[hnswServedTopK]] tail without the ensure (the grown/streamed
    * stores' probe seam).
    */
  def servedTopKOf(spark: SparkSession, table: String, dir: String,
                   k: Int = 5, queryStride: Int = 50,
                   params: Params = Params()): DataFrame =
    rerank(spark, dir,
      probeBucketedStore(spark, table, Tables.embeddings(spark, dir),
        queryStride, params),
      k, queryStride)

  /** Collapse the log: rewrite the table keeping only the latest row
    * per vec_id — the periodic maintenance bounding
    * [[insertIntoBucketedStore]]'s append history. Probe results are
    * unchanged by construction (probes already read through
    * [[latestNodes]]).
    */
  def compactBucketedStore(spark: SparkSession, table: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("vec_id")).orderBy(col("ver").desc)
    val latest = spark.table(table)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      // tombstones compact AWAY (the id becomes re-insertable); their
      // dangling edge refs stay harmless, reconstruct skips unknown
      // neighbors
      .filter(col("level") >= 0)
      // a collapsed log is ONE segment: reset every surviving row to
      // version 0 so the segment count (distinct ver — the automated
      // merge policy's metric) reads 1, and the next insert stamps 1
      .withColumn("ver", lit(0L))
      // materialize before overwriting the table this plan reads
      .localCheckpoint(true)
    graft.sources.BucketedTables.writeBucketed(latest, table, "shard")
    // the rewrite replaced every file — drop any cached listing before
    // a standing reader's next probe plans against vanished parts
    spark.catalog.refreshTable(table)
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** The registered `ann_hnsw_served` lane: exact top-k probe of the
    * bucketed store — same oracle SQL as the gate lane (the layout
    * must not cost recall), measured on the SECOND-and-later batch
    * regime (the stage builder pays the build and a first batch).
    */
  def hnswServedTopK(spark: SparkSession, dir: String, k: Int = 5,
                     queryStride: Int = 50, params: Params = Params(),
                     targetShardRows: Int = 4096): DataFrame =
    rerank(spark, dir,
      probeBucketedStore(spark,
        ensureBucketedGraphStore(spark, dir, params, targetShardRows),
        Tables.embeddings(spark, dir), queryStride, params),
      k, queryStride)

  /** Bench stage builder for the serving lane: store on disk + one
    * warm batch, so the probe measures the standing-deployment regime.
    */
  def ensureServedStages(spark: SparkSession, dir: String): Unit = {
    ensureBucketedGraphStore(spark, dir)
    hnswServedTopK(spark, dir).count()
    ()
  }

  /** The registered exact-gate lane: graph candidates re-ranked through
    * the shared codegen'd cosine + k-bounded heap — byte-identical to
    * the brute-force truth whenever the candidate sets cover the true
    * top-k, which the oracle (the brute-force SQL) then certifies as a
    * recall@k = 1.0 contract at this operating point.
    */
  def hnswTopK(spark: SparkSession, dir: String, k: Int = 5,
               queryStride: Int = 50, params: Params = Params(),
               targetShardRows: Int = 4096): DataFrame =
    rerank(spark, dir,
      candidates(spark, dir, queryStride, params, targetShardRows),
      k, queryStride)

  /** Exact re-rank of candidate pairs through the SAME codegen'd
    * cosine + heap top-k the brute-force truth uses — sim values are
    * byte-identical to the truth's, so candidate coverage ⇔ gate green.
    */
  private def rerank(spark: SparkSession, dir: String, cand: DataFrame,
                     k: Int, queryStride: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val scored = emb.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(Similarity.cosine(col("q_emb"), col("embedding")), 6).as("sim"))
    Similarity.topKBySim(scored, k)
  }

  /** Bench stage builder: materialize the staged graph and the shared
    * brute-force truth so probes measure search + re-rank, not build.
    */
  def ensureHnswStages(spark: SparkSession, dir: String): Unit = {
    ensureGraph(spark, dir).count()
    Similarity.cosineTopK(spark, dir).count()
  }

  /** The approximate regime under the exact-integer hits/k contract of
    * the other recall rows (efS = 16 — a realistic serving beam, not
    * the exhaustive one the gate lane uses). Floor pinned in HnswSpec,
    * including over the 10× sf1 corpus (measured 0.825 there — the
    * fixed-ef decay the paper predicts; production tracks ef ~ log N).
    */
  def hnswRecall(spark: SparkSession, dir: String, k: Int = 5,
                 queryStride: Int = 50,
                 params: Params = Params(efSearch = 16)): DataFrame =
    Similarity.recallVsTruth(
      Similarity.cosineTopK(spark, dir, k, queryStride),
      hnswTopK(spark, dir, k, queryStride, params), k)

  /** The GROWN graph: base built from vec_id % batchMod ≠ 0, then the
    * batch INSERTED through the same algorithm — HNSW's native ingest
    * (no rebuild; each insert touches efC·log n nodes of its shard).
    * Unlike the IVF grown index, the grown graph is NOT byte-equal to
    * a full rebuild (insertion order shapes adjacency); the contract
    * that matters — and that `ann_hnsw_append` oracle-gates — is that
    * probing it still surfaces the EXACT top-k. Structure may drift
    * under ingest; results must not.
    */
  def ensureGrownGraph(spark: SparkSession, dir: String,
                       params: Params = Params(),
                       targetShardRows: Int = 4096,
                       batchMod: Int = 7): DataFrame =
    StageMemo.memoized(spark,
      s"hnsw_grown_${params.m}_${params.efConstruction}_${targetShardRows}_$batchMod",
      dir) {
      import spark.implicits._
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      val shards = shardCount(emb.count(), targetShardRows)
      emb.withColumn("shard", (col("vec_id") % shards).cast("int"))
        .withColumn("is_batch", col("vec_id") % batchMod === 0)
        .repartition(shards, col("shard"))
        .as[(Long, Seq[Float], Int, Boolean)]
        .mapPartitions { it =>
          it.toArray.groupBy(_._3).toSeq.sortBy(_._1).iterator.flatMap {
            case (shard, rows) =>
              val (batch, base) = rows.partition(_._4)
              val ordered = base.sortBy(_._1) ++ batch.sortBy(_._1)
              val g = new Graph(params.m, params.efConstruction)
              ordered.foreach { case (id, v, _, _) => g.insert(id, normalize(v)) }
              ordered.indices.iterator.map { i =>
                Node(shard, g.ids(i), g.levels(i),
                  g.nbrs(i).toSeq.map(_.toSeq.map(g.ids(_)).sorted),
                  ordered(i)._2)
              }
          }
        }
        .toDF()
    }

  /** The ann_hnsw_append registry row: exact top-k over the grown
    * graph — same oracle SQL as the gate lane, because ingest must not
    * cost recall.
    */
  def hnswAppendTopK(spark: SparkSession, dir: String, k: Int = 5,
                     queryStride: Int = 50, params: Params = Params(),
                     targetShardRows: Int = 4096): DataFrame =
    rerank(spark, dir,
      searchGraph(spark, ensureGrownGraph(spark, dir, params, targetShardRows),
        Tables.embeddings(spark, dir), queryStride, params),
      k, queryStride)

  /** Per-level node counts of the STAGED graph — the deterministic
    * skeleton of the index under the hash gate: the oracle re-derives
    * every node's level from md5(vec_id) alone (see [[levelOf]]), so a
    * drift in sharding coverage (lost nodes) or in the level codec
    * turns the row red even though the full adjacency is
    * construction-order state SQL cannot reach.
    */
  def levelHistogram(spark: SparkSession, dir: String,
                     params: Params = Params()): DataFrame =
    ensureGraph(spark, dir, params)
      .groupBy(col("level")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("level"))

  // ── SQ8-COMPRESSED SERVING TIER: the production reason BBQ/SQ tiers
  // exist (Faiss SQ8 / Lucene scalar quantization) — the bucketed
  // serving store holds one-byte-per-dim SQ8 codes instead of float
  // vectors (≈4× smaller at rest AND resident), the walk runs on
  // integer asymmetric squared-L2 against decoded codes, and the
  // probe pool exact-refines through the shared cosine re-rank (the
  // ann_ivfadc_rerank pattern), so the gate lane stays brute-force-
  // exact while serving memory drops 4×. Topology comes from the
  // full-precision build (build-full / serve-compressed, the standard
  // deployment split); the codec is [[Similarity.sqBounds]]'s trained
  // per-dim min/max — one catalog-sized row shipped in the closure. ──

  /** SQ8 store row: per-level adjacency + the one-byte codes. */
  final case class SqStoredNode(vec_id: Long, level: Int,
                                nbrs: Seq[Seq[Long]], code: Seq[Int],
                                ver: Long)
  final case class SqShardProbe(shard: Int, nodes: Seq[SqStoredNode],
                                qs: Seq[QVec])

  /** One SQ8 bucketed store per (dir, operating point): the staged
    * full-precision graph's topology joined to the SQ8 code table,
    * embedding column replaced by the codes (an [[Artifacts.table]]
    * whose rows undercut [[ensureBucketedGraphStore]]'s float rows ~4×;
    * HnswSq8Spec pins the byte ratio).
    */
  def ensureSq8GraphStore(spark: SparkSession, dir: String,
                          params: Params = Params(),
                          targetShardRows: Int = 4096): String = {
    val name = s"graft_hnsw_sq8_${params.m}_${params.efConstruction}_" +
      s"${targetShardRows}_" + Search.dirHash(dir)
    Artifacts.table(spark, name) {
      val rows = ensureGraph(spark, dir, params, targetShardRows)
        .drop("embedding")
        .join(Similarity.sqCodes(spark, dir), Seq("vec_id"))
        .select(col("shard"), col("vec_id"), col("level"), col("nbrs"),
          transform(col("codes"), c => c.cast("int")).as("code"),
          lit(0L).as("ver"))
      graft.sources.BucketedTables.writeBucketed(rows, name, "shard")
    }
    name
  }

  /** Probe the SQ8 store: same scatter-gather shape as
    * [[probeBucketedStore]] (bucket-local shard reassembly, query-batch
    * fanout, merge-hinted join, executor-resident graph cache), but the
    * reconstructed graphs hold DECODED integer micro-vectors and walk
    * on exact-integer squared L2; emits (q_id, vec_id, dist) so the
    * cross-shard merge ranks on the compressed-domain distance.
    */
  private[operators] def probeSq8Store(spark: SparkSession, table: String,
                                       dir: String, queryStride: Int,
                                       params: Params): DataFrame = {
    import spark.implicits._
    // the trained codec: one row of 2×dims longs — bounded planning
    // metadata shipped in the task closure
    val bRow = Similarity.sqBounds(spark, dir).head
    val mn = bRow.getSeq[Long](0).toArray
    val mx = bRow.getSeq[Long](1).toArray
    val store = spark.table(table)
    val shardBlobs = store.groupBy(col("shard"))
      .agg(collect_list(struct(
        col("vec_id"), col("level"), col("nbrs"), col("code"),
        col("ver"))).as("nodes"))
    val shardIds = store.select(col("shard")).distinct() // ≤ shards rows
    val qGrouped = Tables.embeddings(spark, dir)
      .filter(col("vec_id") % queryStride === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(shardIds))
      .groupBy(col("shard"))
      .agg(collect_list(struct(col("q_id"), col("q_emb"))).as("qs"))
    val p = params
    val storeVersion = storeMarkerMtime(spark, table)
    shardBlobs.join(qGrouped.hint("merge"), Seq("shard"))
      .select(col("shard"), col("nodes"), col("qs"))
      .as[SqShardProbe]
      .flatMap { sp =>
        val g = cachedShardGraph(table, sp.shard, storeVersion) {
          reconstructSq8(sp.shard, sp.nodes, p, mn, mx)
        }
        sp.qs.iterator.flatMap { q =>
          // query side: the RAW micro vector (floor(1e6·x) — the same
          // quantization sqTopK's asymmetric distance uses)
          val qv = new Array[Double](q.q_emb.length)
          var i = 0
          while (i < qv.length) {
            qv(i) = math.floor(q.q_emb(i).toDouble * 1e6); i += 1
          }
          g.searchScored(qv, p.efSearch).iterator
            .filter(_._1 != q.q_id)
            .map { case (v, d) => (q.q_id, v, d.toLong) }
        }
      }
      .toDF("q_id", "vec_id", "dist")
  }

  /** Latest alive SQ8 row per vec_id, sorted by vec_id — the shared
    * log-collapse every SQ8 reconstruction and insert starts from.
    */
  private def latestSq8(rows: Seq[SqStoredNode]): Array[SqStoredNode] = {
    val latest = new java.util.HashMap[Long, SqStoredNode]()
    rows.foreach { n =>
      val prev = latest.get(n.vec_id)
      if (prev == null || n.ver > prev.ver) latest.put(n.vec_id, n)
    }
    val alive = scala.collection.mutable.ArrayBuffer.empty[SqStoredNode]
    val it = latest.values().iterator()
    while (it.hasNext) { val n = it.next(); if (n.level >= 0) alive += n }
    alive.sortBy(_.vec_id).toArray
  }

  /** SQ8 decode through the trained bounds:
    * `mn_d + ⌊c_d·(mx_d−mn_d)/255⌋` — sqTopK's decode, exact int64.
    */
  private def decodeSq8(code: Seq[Int], mn: Array[Long],
                        mx: Array[Long]): Array[Double] = {
    val v = new Array[Double](code.length)
    var d = 0
    while (d < v.length) {
      val span = mx(d) - mn(d)
      v(d) = (mn(d) + (if (span == 0) 0L else code(d).toLong * span / 255L))
        .toDouble
      d += 1
    }
    v
  }

  /** SQ8 encode through the trained bounds — [[Similarity.sqCodes]]'s
    * formula (`⌊(x−mn)·255/(mx−mn)⌋`, non-negative truncating division)
    * plus clamping to [0, 255]: a streamed vector may leave the trained
    * range, and a fixed codec clips rather than retrains (the
    * Faiss/Lucene ingest contract). In-range vectors encode
    * bit-identically to the batch code table.
    */
  private def encodeSq8(emb: Seq[Float], mn: Array[Long],
                        mx: Array[Long]): Array[Int] = {
    val c = new Array[Int](emb.length)
    var d = 0
    while (d < c.length) {
      val x = math.floor(emb(d).toDouble * 1e6).toLong
      val span = mx(d) - mn(d)
      c(d) =
        if (span == 0) 0
        else math.min(255L, math.max(0L, x - mn(d)) * 255L / span).toInt
      d += 1
    }
    c
  }

  /** Graph over an already-collapsed (latest, alive, vec_id-sorted)
    * SQ8 node array: codes decoded to integer micro-values, loaded
    * UNNORMALIZED into an l2-metric graph.
    */
  private def sq8GraphOf(sorted: Array[SqStoredNode], params: Params,
                         mn: Array[Long], mx: Array[Long]): Graph = {
    val g = new Graph(params.m, params.efConstruction, l2 = true)
    val index = sorted.iterator.zipWithIndex
      .map { case (n, i) => n.vec_id -> i }.toMap
    sorted.foreach(n => g.load(n.vec_id, decodeSq8(n.code, mn, mx), n.level))
    sorted.iterator.zipWithIndex.foreach { case (n, i) =>
      n.nbrs.iterator.zipWithIndex.foreach { case (ns, lev) =>
        g.wire(i, lev, ns.flatMap(index.get))
      }
    }
    g
  }

  /** Rebuild one shard's graph from raw SQ8 log rows. */
  private def reconstructSq8(shard: Int, rows: Seq[SqStoredNode],
                             params: Params,
                             mn: Array[Long], mx: Array[Long]): Graph =
    sq8GraphOf(latestSq8(rows), params, mn, mx)

  /** SQ8 store row in its emitted shape (ver stamped by the caller). */
  private final case class SqNode(shard: Int, vec_id: Long, level: Int,
                                  nbrs: Seq[Seq[Long]], code: Seq[Int])

  private def emitSq8Nodes(shard: Int, g: Graph,
                           codes: IndexedSeq[Seq[Int]]): Iterator[SqNode] =
    codes.indices.iterator.map { i =>
      SqNode(shard, g.ids(i), g.levels(i),
        g.nbrs(i).toSeq.map(_.toSeq.map(g.ids(_)).sorted), codes(i))
    }

  /** Build an SQ8 serving store from an arbitrary base vector set —
    * [[buildBucketedStore]]'s compressed counterpart and the seam the
    * streaming SQ8 ingest grows from. The codec is `dir`'s trained
    * bounds; topology is built over the DECODED codes (insert-
    * consistent: a vector streamed later walks the same quantized
    * space the build walked).
    */
  def buildSq8Store(spark: SparkSession, base: DataFrame, table: String,
                    shards: Int, dir: String,
                    params: Params = Params()): Unit = {
    import spark.implicits._
    val bRow = Similarity.sqBounds(spark, dir).head
    val mn = bRow.getSeq[Long](0).toArray
    val mx = bRow.getSeq[Long](1).toArray
    if (spark.catalog.tableExists(table)) spark.sql(s"DROP TABLE $table")
    graft.sources.FsPaths.deleteRecursively(spark,
      graft.sources.FsPaths.warehouseTablePath(spark, table))
    val p = params
    val nodes = base.select(col("vec_id"), col("embedding"))
      .withColumn("shard", (col("vec_id") % shards).cast("int"))
      .as[(Long, Seq[Float], Int)]
      .repartition(shards, col("shard"))
      .mapPartitions { it =>
        it.toArray.groupBy(_._3).toSeq.sortBy(_._1).iterator.flatMap {
          case (shard, rowsUnsorted) =>
            val sorted = rowsUnsorted.sortBy(_._1)
            val g = new Graph(p.m, p.efConstruction, l2 = true)
            val codes = sorted.map { case (id, v, _) => encodeSq8(v, mn, mx) }
            sorted.iterator.zip(codes.iterator).foreach {
              case ((id, _, _), code) => g.insert(id, decodeSq8(code, mn, mx))
            }
            emitSq8Nodes(shard, g, codes.map(_.toSeq).toIndexedSeq)
        }
      }
    graft.sources.BucketedTables.writeBucketed(
      nodes.toDF().withColumn("ver", lit(0L)), table, "shard")
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** Insert a vector batch into an SQ8 serving store —
    * [[insertIntoBucketedStore]]'s compressed twin: the batch narrows
    * to never-seen vec_ids (replay ⇒ zero writes), each touched shard's
    * latest graph reconstructs from codes, the new vectors ENCODE
    * through the fixed trained codec and insert as their DECODED
    * micro-vectors (the walk sees exactly what probes will see), and
    * the append ships only new + rewired rows under the next version —
    * pre-existing bucket files stay byte-identical.
    */
  def insertIntoSq8Store(spark: SparkSession, table: String,
                         batch: DataFrame, dir: String,
                         params: Params = Params()): Unit = {
    import spark.implicits._
    val bRow = Similarity.sqBounds(spark, dir).head
    val mn = bRow.getSeq[Long](0).toArray
    val mx = bRow.getSeq[Long](1).toArray
    val store = spark.table(table)
    val meta = store.agg(
      max(col("shard")).as("max_shard"), max(col("ver")).as("max_ver")).head
    val shards = meta.getInt(0) + 1
    val nextVer = meta.getLong(1) + 1L
    val fresh = batch.select(col("vec_id"), col("embedding"))
      .join(store.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .withColumn("shard", (col("vec_id") % shards).cast("int"))
      .as[(Long, Seq[Float], Int)]
    val touched = fresh.select(col("shard")).distinct()
      .collect().map(_.getInt(0)) // ≤ shards — bounded planning metadata
    if (touched.isEmpty) return
    val existing = store
      .filter(col("shard").isin(touched.map(Integer.valueOf): _*))
      .select(col("shard"), col("vec_id"), col("level"), col("nbrs"),
        col("code"), col("ver"))
    val p = params
    val delta = existing.as[(Int, Long, Int, Seq[Seq[Long]], Seq[Int], Long)]
      .groupByKey(_._1)
      .cogroup(fresh.groupByKey(_._3)) { (shard, nodesIt, batchIt) =>
        val latest = latestSq8(
          nodesIt.map(r => SqStoredNode(r._2, r._3, r._4, r._5, r._6)).toSeq)
        val before = latest.map(n => n.vec_id -> (n.level, n.nbrs)).toMap
        val adds = batchIt.toArray.sortBy(_._1)
        val g = sq8GraphOf(latest, p, mn, mx)
        val addCodes = adds.map { case (id, v, _) =>
          (id, encodeSq8(v, mn, mx)) }
        addCodes.foreach { case (id, code) =>
          g.insert(id, decodeSq8(code, mn, mx)) }
        val codes = latest.map(_.code) ++ addCodes.map(_._2.toSeq)
        // ship only what changed: new nodes, plus rewired existing ones
        emitSq8Nodes(shard, g, codes.toIndexedSeq).filter { n =>
          before.get(n.vec_id) match {
            case None => true
            case Some((lvl, nb)) => lvl != n.level || nb != n.nbrs
          }
        }
      }
    graft.sources.BucketedTables.appendBucketed(
      delta.toDF().withColumn("ver", lit(nextVer)), table, "shard")
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** Tombstoned DELETE on an SQ8 store — [[removeFromBucketedStore]]'s
    * compressed twin (level = −1 marker row, pure append); probes drop
    * dead nodes at reconstruction ([[latestSq8]]), and the SHARED
    * [[compactBucketedStore]] (whole-row latest-per-vec_id, schema-
    * agnostic) physically collapses the log — the automated
    * [[Compaction.Policy]] machinery applies to this layout unchanged.
    */
  def removeFromSq8Store(spark: SparkSession, table: String,
                         ids: DataFrame): Unit = {
    val store = spark.table(table)
    val meta = store.agg(
      max(col("shard")).as("max_shard"), max(col("ver")).as("max_ver")).head
    val shards = meta.getInt(0) + 1
    val nextVer = meta.getLong(1) + 1L
    val tombs = ids.select(col("vec_id").cast("long"))
      .distinct()
      .select(
        (col("vec_id") % shards).cast("int").as("shard"),
        col("vec_id"), lit(-1).as("level"),
        typedLit(Seq.empty[Seq[Long]]).as("nbrs"),
        typedLit(Seq.empty[Int]).as("code"),
        lit(nextVer).as("ver"))
    graft.sources.BucketedTables.appendBucketed(tombs, table, "shard")
    graft.sources.FsPaths.touch(spark, Artifacts.tableMarker(spark, table))
  }

  /** Exact top-k probe of an arbitrary SQ8 store table — the
    * [[hnswSq8TopK]] tail without the ensure (the grown/streamed SQ8
    * stores' probe seam, [[servedTopKOf]]'s compressed twin).
    */
  def sq8ServedTopKOf(spark: SparkSession, table: String, dir: String,
                      k: Int = 5, queryStride: Int = 50,
                      params: Params = Params()): DataFrame =
    rerank(spark, dir,
      probeSq8Store(spark, table, dir, queryStride, params)
        .select(col("q_id"), col("vec_id")),
      k, queryStride)

  /** The registered `ann_hnsw_sq8_topk` lane: SQ8 walk nominates the
    * pool, the shared exact-cosine re-rank finishes — same brute-force
    * oracle as the float gate lanes (the compressed walk must not cost
    * recall at the operating point).
    */
  def hnswSq8TopK(spark: SparkSession, dir: String, k: Int = 5,
                  queryStride: Int = 50, params: Params = Params(),
                  targetShardRows: Int = 4096): DataFrame =
    rerank(spark, dir,
      probeSq8Store(spark,
        ensureSq8GraphStore(spark, dir, params, targetShardRows),
        dir, queryStride, params)
        .select(col("q_id"), col("vec_id")),
      k, queryStride)

  /** The compressed tier's approximate regime: efS=16 walk, candidates
    * ranked by the INTEGER SQ8 walk distance itself (no refine — the
    * pure compressed-domain serving cost), recall vs brute-force truth
    * under the shared exact-integer hits/k contract. Floor pinned in
    * HnswSq8Spec (rows-only at the gate, like `ann_hnsw_recall`).
    */
  def hnswSq8Recall(spark: SparkSession, dir: String, k: Int = 5,
                    queryStride: Int = 50,
                    params: Params = Params(efSearch = 16),
                    targetShardRows: Int = 4096): DataFrame = {
    val cand = probeSq8Store(spark,
      ensureSq8GraphStore(spark, dir, Params(params.m, params.efConstruction),
        targetShardRows),
      dir, queryStride, params)
    val topk = Dedup.topKPerKey(cand, Seq("q_id"),
      Seq(col("dist"), col("vec_id")), k).select(col("q_id"), col("vec_id"))
    Similarity.recallVsTruth(
      Similarity.cosineTopK(spark, dir, k, queryStride), topk, k)
  }

  /** Bench stage builder for the SQ8 tier: store on disk + one warm
    * batch (the standing-deployment regime), plus the shared truth.
    */
  def ensureSq8Stages(spark: SparkSession, dir: String): Unit = {
    ensureSq8GraphStore(spark, dir)
    hnswSq8TopK(spark, dir).count()
    Similarity.cosineTopK(spark, dir).count()
    ()
  }
}
