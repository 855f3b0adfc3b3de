package graft.ext

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
  StructType}

import graft.Q

/** [EXT] Distributed graph operators for dedup pipelines.
  *
  * Near-dup detection emits PAIRS, but duplicates chain transitively
  * (A~B, B~C => {A,B,C} are one duplicate cluster), so every real dedup
  * pipeline needs the pair list folded into GROUPS before it can keep
  * one canonical representative per cluster. That fold is connected
  * components over the pair graph.
  */
object Graph {

  /** Connected components.
    *
    * Input: an undirected edge list (two id columns). Output: one row
    * per vertex — (id, group_id) where `group_id` is the smallest vertex
    * id in the component (deterministic, stable under any partitioning
    * and any edge order); both columns keep the input ids' data type.
    *
    * Two paths, one result. The edge list is projected and persisted,
    * and ONE job reads at most [[DriverMaxEdges]] + 1 edges of it back:
    *
    *  - Small graph (at most [[DriverMaxEdges]] edges, integral ids, no
    *    null endpoint): one union-find on the driver folds the edges
    *    and the components come back as a local frame, with no further
    *    Spark job. Near-dup pair graphs are this case: a curate run's
    *    MinHash graph is ~530 edges over ~1k documents, and the loop
    *    below spent 16 jobs and ~1.9 s of mostly idle driver time on
    *    it. Memory bound: the driver holds the collected edges as
    *    packed longs (16 bytes an edge), a vertex index and the result
    *    rows for at most 2 x cap vertices, tens of MB at the cap (under
    *    64 MB), well inside a 2 GB driver heap. Each task of the read
    *    job returns at most cap + 1 edges and the driver drops them once
    *    the running total passes the cap, so an over-cap graph stays
    *    within the same bound before it falls back.
    *  - Otherwise: distributed minimum-label propagation.
    *
    * Loop scale shape: the edge list is symmetrized, hash-partitioned on
    * `src` ONCE and persisted; every round reuses that layout for the
    * propagate join, so each round costs one shuffle of the (much
    * smaller) label table — the edges never move again. Labels only
    * decrease, so `sum(label)` is strictly decreasing until fixpoint and
    * serves as the O(1)-per-round convergence probe (no old-vs-new
    * join).
    *
    * Rounds needed = component diameter + 1 at most (the last round
    * sees no change). The catalog's graphs (the cosine near-dup graph,
    * 5 rounds in round 21, and the curation MinHash graph, 2) are far
    * under the cap and now take the driver path; the loop serves
    * graphs above it. A pointer-jumping variant was A/B'd in round 21
    * and LOST to plain propagation on shallow dup graphs (the extra
    * label-sized self-join per round cost more than the rounds it
    * saved); the O(log n)-round large-star/small-star scheme (Kiveris
    * et al., "Connected Components in MapReduce") pays off only on
    * deep graphs. The loop's cost is driver-side per-round overhead,
    * not executor work, so each round issues ONE action: the new label
    * table is LAZILY localCheckpoint'ed and the `sum(label)` probe
    * materializes it — the probe IS the materializing action, and the
    * checkpoint still truncates lineage every round (a 50-round
    * unpruned plan would choke Catalyst long before the cluster). On
    * this path no edge or label visits the driver.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 50): DataFrame =
    connectedComponentsCapped(edges, srcCol, dstCol, maxIter, DriverMaxEdges)

  /** Edge-count cap of [[connectedComponents]]' driver union-find (see
    * its scaladoc for the memory bound).
    */
  val DriverMaxEdges: Int = 100000

  /** [[connectedComponents]] with the driver path's edge cap explicit:
    * 0 always runs the distributed loop.
    */
  private[graft] def connectedComponentsCapped(edges: DataFrame,
      srcCol: String, dstCol: String, maxIter: Int,
      driverMaxEdges: Int): DataFrame = {
    val spark = edges.sparkSession
    // The work runs in its own scope: the scope frees the loop's
    // symmetrized edges and every label generation on every exit, and
    // the loop's final generation — the frame the scope returns —
    // passes to the caller's owner ([[graft.Overlap]]), which frees it
    // when the caller's query or run ends. The driver path's local
    // frame holds no storage blocks.
    val labels = graft.Overlap(spark) { s =>
      // persist the projected edge list FIRST: the driver read, the
      // sizing count, and both union branches of the symmetrization
      // below, read it — unpersisted, the upstream pair join (the most
      // expensive stage of any near-dup pipeline) would run again for
      // each (round-3 bench: x_dup_groups 10.8 s / x_semantic_dedup
      // 15.6 s, dominated by exactly that recompute). Like any
      // operator's intermediate it belongs to the caller's owner; the
      // loop frees it early, once its last consumer has read it.
      val e = graft.Overlap.own(edges.select(col(srcCol).as("src"),
        col(dstCol).as("dst")).persist())
      driverComponents(e, driverMaxEdges)
        .getOrElse(labelLoop(s, e, maxIter))
    }
    labels.select(col("id"), col("label").as("group_id"))
  }

  /** The driver path of [[connectedComponents]]: `(id, label)` of every
    * vertex of `e` (`src`, `dst`) from one union-find, or None when `e`
    * has more than `cap` edges, a null endpoint or non-integral ids.
    * One Spark job: each task returns at most `cap` + 1 of its edges
    * as packed longs, and the driver keeps them only while the running
    * total stays within `cap`.
    */
  private def driverComponents(e: DataFrame, cap: Int): Option[DataFrame] = {
    val idType = e.schema("src").dataType
    val integral = idType == e.schema("dst").dataType &&
      (idType == IntegerType || idType == LongType)
    if (cap <= 0 || !integral) return None
    val kept = new java.util.ArrayList[Array[Long]]()
    var total = 0L
    var small = true
    // a task that meets a null endpoint returns null: null ids take the
    // loop path, which defines their semantics
    e.sparkSession.sparkContext.runJob(e.rdd, (it: Iterator[Row]) => {
      val out = Array.newBuilder[Long]
      var n = 0
      var nulls = false
      while (n <= cap && it.hasNext && !nulls) {
        val r = it.next()
        if (r.isNullAt(0) || r.isNullAt(1)) nulls = true
        else {
          out += r.get(0).asInstanceOf[Number].longValue
          out += r.get(1).asInstanceOf[Number].longValue
          n += 1
        }
      }
      if (nulls) null else out.result()
    }, (_: Int, pairs: Array[Long]) =>
      if (pairs == null) small = false
      else if (small) {
        total += pairs.length / 2
        if (total > cap) { small = false; kept.clear() }
        else kept.add(pairs)
      }: Unit)
    if (!small) return None
    // union-find over dense vertex indices: the root of a component is
    // its minimum id, so every vertex's label is its root's id
    val index = new scala.collection.mutable.LongMap[Int]()
    val ids = Array.newBuilder[Long]
    def vertex(id: Long): Int = index.getOrElseUpdate(id, {
      ids += id; index.size })
    val edgeIdx = kept.asScala.iterator.flatMap(_.iterator).map(vertex)
      .toArray
    val idOf = ids.result()
    val parent = Array.tabulate(idOf.length)(identity)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var i = 0
    while (i < edgeIdx.length) {
      val (ra, rb) = (find(edgeIdx(i)), find(edgeIdx(i + 1)))
      if (ra != rb)
        if (idOf(ra) < idOf(rb)) parent(rb) = ra else parent(ra) = rb
      i += 2
    }
    val asId: Long => Any =
      if (idType == IntegerType) _.toInt else identity
    val rows = idOf.indices.sortBy(idOf).map(v =>
      Row(asId(idOf(v)), asId(idOf(find(v)))))
    // nullable exactly where the loop's columns are
    val nullable = e.schema("src").nullable || e.schema("dst").nullable
    Some(e.sparkSession.createDataFrame(rows.asJava, StructType(Seq(
      StructField("id", idType, nullable),
      StructField("label", idType, nullable)))))
  }

  /** The distributed path of [[connectedComponents]]: minimum-label
    * propagation over the persisted edge list `e` (`src`, `dst`),
    * returning the final `(id, label)` generation (held by `s`'s
    * caller's owner once `s` returns it).
    */
  private def labelLoop(s: graft.Overlap, e: DataFrame,
      maxIter: Int): DataFrame = {
    // iteration stages shuffle tables of |V| / |E| rows many times —
    // size their partition count to the DATA, not the session default
    // (a 1k-vertex dup graph should not pay 32 tasks x stages x rounds
    // of scheduling overhead; a 10^10-edge graph still gets full
    // width). The sizing is applied with EXPLICIT repartition calls
    // below, never by mutating the session's shuffle-partition conf: a
    // session-conf write, even set/finally-restored, leaks the
    // narrowed width into any query another thread plans on the same
    // session mid-loop.
    val sessionParts = e.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toLong // read-only cap
    val nEdges = e.count()
    val parts =
      math.max(1L, math.min(sessionParts, nEdges / 50000 + 1)).toInt
    // symmetrize then dedup in ONE explicit exchange: hash(src, parts)
    // already co-locates equal (src, dst) pairs, so the dropDuplicates
    // aggregate rides that layout shuffle-free, and the persisted
    // result keeps exactly the width + key every round's join needs
    val sym = s.release(e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(parts, col("src"))
      .dropDuplicates("src", "dst")
      .persist())
    // same one-exchange idiom for the initial label table: explicit
    // hash(id, parts) so the per-round left join is co-partitioned
    // with `pushed` from round 1 (localCheckpoint preserves the
    // physical partitioning into the checkpointed LogicalRDD)
    var labels = s.release(sym.select(col("src").as("id"))
      .repartition(parts, col("id"))
      .dropDuplicates("id")
      .withColumn("label", col("id"))
      .localCheckpoint())
    // labels' eager checkpoint just materialized sym's cache; the raw
    // edge list has served all three consumers — release it
    e.unpersist(blocking = false)
    // coalesce: sum over an EMPTY vertex set is null (no edges in —
    // the loop then converges in the second probe and returns zero
    // rows)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    // No initial probe: with a non-empty edge set, round 1 always
    // changes a label (the larger endpoint of any edge decreases),
    // so comparing round 1 against the initial sum never converges —
    // the sentinel None spends nothing and keeps the empty-input
    // case terminating (round 2 sees the same 0 sum and stops).
    var prevSum = Option.empty[Long]
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // explicit hash(dst, parts) exchange instead of letting the
      // aggregate shuffle at session width: keeps the whole loop
      // co-partitioned at `parts` with zero session-conf writes. The
      // trade is losing the aggregate's map-side combine on this one
      // exchange — negligible here because near-dup graphs have tiny
      // average degree (|E_sym| is a small multiple of |V|), and the
      // downstream left join then elides BOTH its exchanges
      val pushed = sym.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), col("label"))
        .repartition(parts, col("dst"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("neighbor_min"))
      // LAZY local checkpoint: the convergence probe below is the
      // round's ONE action — it materializes the checkpointed RDD
      // (truncating lineage exactly like the eager form) and computes
      // the sum in the same job. The eager checkpoint-then-probe pair
      // cost two planned actions per round (round-21 profile: the
      // loop spent ~2x its executor time in driver-side planning).
      // No CacheManager entry is involved (an A/B with persist()-
      // backed rounds lost badly: every in-loop unpersist triggered a
      // non-cascading recache replan of the dependent entries — 23 s
      // vs 2 s for the whole query), but the superseded round's
      // checkpoint BLOCKS are released explicitly below rather than
      // at scope exit: once round k's RDD is saved by the probe,
      // round k-1's blocks can never be read again (k's lineage is
      // truncated at its own blocks), and a deep loop near maxIter
      // would otherwise hold every generation of the label table in
      // storage until the loop ends (round-21 verdict memory-safety
      // item).
      val prev = labels
      labels = s.release(labels.join(pushed, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("neighbor_min"), col("label")))
            .as("label"))
        .localCheckpoint(false))
      val total = labelSum(labels) // materializes the checkpoint
      graft.Memos.free(prev)
      converged = prevSum.contains(total)
      prevSum = Some(total)
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** Registered query: semantic-dedup groups — fold the embedding-cosine
    * near-dup pairs ([[Similarity.cosineNearDupPairs]]) into duplicate
    * clusters, size each cluster, and flag the canonical (minimum-id)
    * representative every other member would be dropped in favor of.
    */
  def dupGroups(spark: SparkSession, dir: String): DataFrame = {
    val edges = Similarity.cosineNearDupPairs(spark, dir)
    val comp = connectedComponents(edges, "vec_a", "vec_b")
    val sizes = comp.groupBy(col("group_id")).agg(count(lit(1)).as("group_size"))
    comp.join(sizes, Seq("group_id"))
      .select(col("id").as("vec_id"), col("group_id"), col("group_size"),
        (col("id") === col("group_id")).as("is_canonical"))
      .orderBy(col("vec_id"))
  }

  /** The APPLY step of semantic dedup: keep exactly one representative
    * per duplicate cluster (the canonical min-id member) plus every
    * vector that was in no near-dup pair at all — i.e. the deduplicated
    * corpus a training pipeline would actually train on. Anti-join of
    * the corpus against the non-canonical members; the dup-group table
    * is tiny relative to the corpus, so at scale the anti-join
    * broadcasts.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val drop = dupGroups(spark, dir).filter(!col("is_canonical"))
      .select(col("vec_id"))
    graft.io.Sources.table(spark, dir, "embeddings")
      .join(broadcast(drop), Seq("vec_id"), "left_anti")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy(col("label"))
  }

  private val semanticDedupSql =
    """WITH RECURSIVE e AS (SELECT vec_id, label,
         CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       pairs AS (
         SELECT a.vec_id AS src, b.vec_id AS dst
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.2),
       sym AS (SELECT src, dst FROM pairs
               UNION SELECT dst, src FROM pairs),
       reach(src, dst) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       lab AS (SELECT src AS vec_id, least(src, min(dst)) AS group_id
               FROM reach GROUP BY src),
       drop_ids AS (SELECT vec_id FROM lab WHERE vec_id <> group_id)
       SELECT label, count(*) AS n_kept
       FROM embeddings WHERE vec_id NOT IN (SELECT vec_id FROM drop_ids)
       GROUP BY label ORDER BY label"""

  /** Transitive closure over the same pair set, as a recursive CTE: the
    * component label is the least id reachable from each vertex.
    */
  private val dupGroupsSql =
    """WITH RECURSIVE e AS (SELECT vec_id, label,
         CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
       pairs AS (
         SELECT a.vec_id AS src, b.vec_id AS dst
         FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.emb, b.emb) >= 0.2),
       sym AS (SELECT src, dst FROM pairs
               UNION SELECT dst, src FROM pairs),
       reach(src, dst) AS (
         SELECT src, dst FROM sym
         UNION
         SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       lab AS (SELECT src AS vec_id, least(src, min(dst)) AS group_id
               FROM reach GROUP BY src)
       SELECT vec_id, group_id,
         count(*) OVER (PARTITION BY group_id) AS group_size,
         vec_id = group_id AS is_canonical
       FROM lab ORDER BY vec_id"""

  /** Fixed-point PageRank — the second distributed-iteration graph
    * operator next to [[connectedComponents]] (label propagation finds
    * WHICH nodes form a cluster; PageRank scores HOW CENTRAL each node
    * is — the source-authority / domain-weighting signal a curation
    * pipeline mixes into quality scores). Graph: the customer–supplier
    * trade network from orders ⋈ lineitem, symmetrized (random walk on
    * the undirected bipartite graph; node id = 2·custkey / 2·suppkey+1
    * keeps the two key spaces disjoint).
    *
    * All arithmetic is 64-bit FIXED-POINT (SCALE = 1e12): per-edge
    * contributions are integer divisions `r div outdeg`, the damping
    * step is `(85·Σ) div 100`, so every iteration is exact integer math
    * — no float summation to drift with partitioning or engine, which
    * is what lets a 5-round iterative algorithm stay fully
    * hash-oracled (DuckDB replays the same five rounds unrolled).
    * Integer truncation leaks ≤1 unit of 1e-12 mass per division —
    * irrelevant to ranking, and identically in both engines.
    *
    * Scale shape (the [[connectedComponents]] discipline): the
    * symmetrized edge list is projected, persisted, and reused by all
    * five rounds; each round costs one join of the (node, rank) table
    * against the cached edges plus one map-side-combined sum keyed by
    * dst. The rank table is |V| rows — the corpus never re-shuffles.
    * The only driver scalar is the node count (O(1), sizes the
    * teleport constant). Fixed 5 rounds: rank queries want a
    * converged-enough ORDERING, and each extra round is a full edge
    * pass; the round count is part of the operator's contract (the
    * oracle unrolls exactly 5).
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val SCALE = 1000000000000L
    // per-round aggregate width: left to the session default + AQE
    // coalescing (on in [[graft.Registry]]), which shrinks the tiny-graph
    // case at runtime without any session-conf write — the earlier
    // formulation set spark.sql.shuffle.partitions around the loop,
    // which leaks the narrowed width into concurrently-planned queries
    // on the same session. Map-side combine on the dst-keyed sum is
    // preserved (an explicit repartition would forfeit it, and this
    // bipartite co-purchase graph has degree ~O(orders x items), so the
    // combine is a real |E| -> |V| shuffle-volume reduction).
    val o = graft.io.Sources.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
    val l = graft.io.Sources.table(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val raw = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      // symmetrize BEFORE deduplicating, in ONE exchange: repartition
      // on src alone, then dedup (src, dst) — HashPartitioning(src)
      // already co-locates equal pairs, so the dropDuplicates
      // aggregate runs shuffle-free on that layout, and the persisted
      // result keeps the src layout every round's join needs. The edge
      // list — the only data-sized table here — is shuffled ONCE.
      // No standalone materializing count (round 22, §2.4): the first
      // consumer below (`deg.count()`) fills the cache in the same
      // pass — a separate `sym.count()` was one whole planned action
      // for work the next action repeats for free.
      val sym = graft.Overlap.own(
        raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
          .repartition(col("src"))
          .dropDuplicates("src", "dst")
          .persist())
      val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg"))
      // the per-round pipeline needs the SOURCE's out-degree at join
      // time (contribution = r div outdeg): attach it to the cached
      // edge list ONCE — deg derives from sym's own src layout, so
      // this join is co-partitioned, no extra exchange of the edges.
      // Each round is then ONE join against the tiny rank table plus
      // ONE map-side-combined sum keyed by dst — a single |E|-row
      // shuffle per round (the first formulation rebuilt ranks from
      // deg with a second join every round: 2x the stages, measured
      // ~1.45 s/round vs ~0.7 here at sf0.1)
      val symd = graft.Overlap.own(sym.join(deg, "src").persist())
      // deg.count() fills sym's cache on the way (first materializer);
      // deg itself stays a cheap co-partitioned re-aggregation of it
      // wherever referenced
      val n = deg.count()
      val base = (15L * SCALE) / (100L * n)
      // every node has both in- and out-edges after symmetrization, so
      // the dst-driven aggregate below covers exactly the node set —
      // no left-join backfill needed
      var ranks = deg.select(col("src").as("node"), lit(SCALE / n).as("r"))
      for (_ <- 1 to 5) {
        // NO per-round checkpoint, unlike connectedComponents: 5 fixed
        // rounds keep the lineage bounded, and BOTH checkpoint flavors
        // measured SLOWER — eager in round 21 (12.4 s vs 9.0 s: one
        // extra blocking job per round), lazy in round 22 (min-of-5
        // 3.16 s vs 1.98 s: each localCheckpoint(false) call finalizes
        // its round's adaptive plan SERIALLY, while the composed
        // 5-round tree lets AQE materialize independent stages
        // concurrently — the profiler showed the checkpointed variant's
        // jobs strictly serialized with ~100-200 ms driver gaps where
        // the composed plan overlapped them). CC needs per-round
        // checkpoints only because its round count is unbounded.
        ranks = symd
          .join(ranks.select(col("node").as("src"), col("r")), "src")
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy(col("dst").as("node"))
          .agg((lit(base) + expr("(85 * sum(c)) div 100")).as("r"))
      }
      ranks.select(
          when(pmod(col("node"), lit(2)) === 0, lit("customer"))
            .otherwise(lit("supplier")).as("node_type"),
          expr("node div 2").as("node_key"), col("r").as("rank_fp"))
        .orderBy(col("rank_fp").desc, col("node_type"), col("node_key"))
        .limit(25)
  }

  /** The five rounds unrolled as CTEs with the same integer recurrence
    * (`//` floors like Spark's `div` on the all-positive operands;
    * DuckDB's HUGEINT sums cast back to BIGINT each round).
    */
  private val pageRankSql = {
    def round(i: Int): String = {
      val prev = s"r${i - 1}"
      s"""c$i AS (SELECT e.dst AS node,
               CAST(sum(r.r // r.outdeg) AS BIGINT) AS s
             FROM sym e JOIN $prev r ON e.src = r.node GROUP BY e.dst),
       r$i AS (SELECT d.src AS node, d.outdeg,
               CAST(((15 * 1000000000000) // (100 * nn.n))
                 + ((85 * coalesce(c$i.s, 0)) // 100) AS BIGINT) AS r
             FROM deg d CROSS JOIN nn LEFT JOIN c$i ON c$i.node = d.src)"""
    }
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS src,
                l_suppkey * 2 + 1 AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       sym AS (SELECT src, dst FROM p
               UNION ALL SELECT dst, src FROM p),
       deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
       nn AS (SELECT count(*) AS n FROM deg),
       r0 AS (SELECT d.src AS node, d.outdeg,
                CAST(1000000000000 // nn.n AS BIGINT) AS r
              FROM deg d, nn),
       ${(1 to 5).map(round).mkString(",\n       ")}
       SELECT CASE WHEN node % 2 = 0 THEN 'customer'
                   ELSE 'supplier' END AS node_type,
         node // 2 AS node_key, r AS rank_fp
       FROM r5
       ORDER BY rank_fp DESC, node_type, node_key LIMIT 25"""
  }

  /** [EXT] Triangle count over the part co-purchase graph (parts
    * linked when they appear in the same order; scoped to partkey <
    * 500 so the verify-scale graph stays legible). The global triangle
    * count is the graph-health scalar behind clustering-coefficient /
    * community diagnostics.
    *
    * Scale shape — the degree-ordered orientation (node rank = (degree,
    * id); every undirected edge stored once, low rank -> high rank):
    * wedges are generated only at each edge pair's LOWEST-ranked node,
    * so per-node wedge fan-out is bounded by the oriented out-degree —
    * O(sqrt(|E|)) on any graph — instead of the raw degree. A hub with
    * 10^7 neighbors produces ~|E|^{1/2} wedges, not 10^14: this bound
    * is what makes the wedge join survivable at 100 TB, and it is the
    * entire difference from the naive 3-way self-join the oracle runs
    * at verify scale (same count: orientation is acyclic, so each
    * triangle materializes exactly once, at its lowest-ranked corner).
    * Both joins are plain equi-joins (on the wedge apex, then on the
    * closing (v, w) pair); the oriented edge list is persisted and
    * reused by both sides.
    */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val l = graft.io.Sources.table(spark, dir, "lineitem")
      .filter(col("l_partkey") < 500)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    val pairs = l.as("a").join(l.as("b"),
        col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val deg = pairs.select(col("u").as("n"))
      .unionAll(pairs.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // rank = degree * 2^32 + id: one long carries the (degree, id)
    // total order (ids are partkeys < 2^31; degrees fit 2^31 at any sf)
    val ranked = pairs
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select((col("du") * (1L << 32) + col("u")).as("ru"),
        (col("dv") * (1L << 32) + col("v")).as("rv"))
    val e = graft.Overlap.own(
      ranked.select(least(col("ru"), col("rv")).as("s"),
        greatest(col("ru"), col("rv")).as("t")).persist())
    val wedges = e.as("x").join(e.as("y"),
        col("x.s") === col("y.s") && col("x.t") < col("y.t"))
      .select(col("x.t").as("s"), col("y.t").as("t"))
    val tri = wedges.join(e, Seq("s", "t"), "left_semi")
    // all three scalars read the CACHED oriented edge list — deriving
    // n_nodes from deg would re-run the pairs join + degree chain
    val nodes = e.select(col("s").as("x")).unionAll(e.select(col("t")))
      .agg(countDistinct(col("x")).as("n_nodes"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    nodes.crossJoin(edges)
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** [EXT] Degree spectrum of the trade graph in log2 bands — the graph
    * twin of `x_zipf_profile`: how many nodes have degree in
    * [2^b, 2^(b+1)), and how much edge mass they carry. Heavy-tailed
    * spectra are what make unguarded wedge/join fan-outs explode
    * ([[triangleCount]]'s orientation exists because of exactly this
    * shape); the profile is the diagnosis step. Two map-side-combined
    * groupBys (node, then band) — no sort, no global rank.
    */
  def degreeProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.io.Sources.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val l = graft.io.Sources.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val edges = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val deg = edges.select(col("src").as("n"))
      .unionAll(edges.select(col("dst").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    deg.groupBy((length(bin(col("d"))) - 1).as("deg_band"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("edge_mass"))
      .orderBy(col("deg_band"))
  }

  private val degreeProfileSql =
    """WITH p AS (SELECT DISTINCT o_custkey * 2 AS src,
                l_suppkey * 2 + 1 AS dst
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       deg AS (SELECT n, count(*) AS d FROM
               (SELECT src AS n FROM p UNION ALL SELECT dst FROM p)
               GROUP BY n)
       SELECT CAST(length(bin(CAST(d AS BIGINT))) - 1 AS INT) AS deg_band,
         count(*) AS n_nodes, CAST(sum(d) AS BIGINT) AS edge_mass
       FROM deg GROUP BY 1 ORDER BY deg_band"""

  private val triangleCountSql =
    """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey < 500 AND b.l_partkey < 500),
       n AS (SELECT count(DISTINCT x) AS n_nodes FROM
             (SELECT u AS x FROM e UNION ALL SELECT v FROM e)),
       m AS (SELECT count(*) AS n_edges FROM e),
       t AS (SELECT count(*) AS n_triangles
             FROM e x JOIN e y ON x.v = y.u
             JOIN e z ON z.u = x.u AND z.v = y.v)
       SELECT n_nodes, n_edges, n_triangles FROM n, m, t"""

  val qs: Seq[Q] = Seq(
    Q("x_dup_groups", dupGroups, Some(dupGroupsSql)),
    Q("x_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    Q("x_pagerank", pageRank, Some(pageRankSql)),
    Q("x_triangle_count", triangleCount, Some(triangleCountSql)),
    Q("x_degree_profile", degreeProfile, Some(degreeProfileSql)))
}
