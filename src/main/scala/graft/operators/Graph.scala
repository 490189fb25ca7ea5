package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph primitives for dedup pipelines.
  *
  * Near-duplicate detection ([[Dedup]]) emits PAIRS; a corpus clean pass
  * needs CLUSTERS — "keep one document per group of transitively-connected
  * near-dups". That transitive closure is connected components over the
  * dup-pair edge list, the standard final stage of every large-scale
  * dedup pipeline (the reference has no analog; this is north-star
  * surface).
  */
object Graph {

  import CacheScope.releaseCheckpoint

  /** Connected components by iterative min-label propagation.
    *
    * `edges` is an undirected edge list with two long columns (src, dst by
    * position). Returns (id, cc) with cc = the minimum vertex id reachable
    * from id — a canonical, deterministic cluster label (so downstream
    * "keep doc_id == cc" is the keep-lowest rule).
    *
    * Each round every vertex takes the min label over itself and its
    * neighbors, then labels are pointer-jumped (label := label-of-label),
    * which shortcuts chains so rounds needed = O(log diameter) instead of
    * O(diameter) — `maxIter = 20` covers diameter ~2^20, far beyond any
    * real dup graph (near-dup clusters are dense, low-diameter
    * neighborhoods converging in 2-3 rounds). Per round: two shuffle
    * joins (edges⋈labels keyed on vertex id, labels⋈labels keyed on
    * label) + one aggregation — all scale-out friendly; `localCheckpoint`
    * truncates the iterative lineage so plans don't grow with rounds.
    *
    * Termination: converged when a round changed no label, capped at
    * `maxIter`; hitting the cap without convergence logs a warning (labels
    * would be partially propagated — observable instead of silently
    * wrong). Driver-action economy (round 17): the convergence check is
    * an `observe` metric (count of labels the round changed) collected
    * DURING the round's own checkpoint job — ONE driver action per round
    * (was 1.5: the eager localCheckpoint plus an every-second-round
    * isEmpty over the checkpointed blocks), and the free per-round check
    * also stops exactly at the first no-op round instead of on the next
    * even one. Rounds therefore show up as Spark jobs: a query whose CC
    * needs more rounds at a larger scale records more `jobs` in
    * `graft.Bench`'s artifact. (A round-17 experiment batching TWO propagation rounds
    * per checkpoint measured 1.3-2× SLOWER across the CC query family —
    * the in-block duplicate subtrees of the pointer-jump self-join are
    * not fully deduped by exchange reuse — so rounds stay
    * checkpoint-per-round.) */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, "edge list needs (src, dst) columns")
    val e = edges.select(col(cols(0)).as("src"), col(cols(1)).as("dst"))
    // symmetrize once; both directions make "min over in-neighbors" equal
    // to "min over all neighbors"
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("cc"))
      .localCheckpoint()
    // the round's live checkpoint; every previous round's blocks are dead
    // the moment the next round materializes and are freed eagerly below
    // (an iterative operator must hold O(1) rounds of state, not O(n))
    var liveCkpt = labels
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("cc")), Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("cc")).as("nbr_cc"))
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cc"), coalesce(col("nbr_cc"), col("cc"))).as("cc"),
          col("cc").as("prev")) // this round's starting label, carried for the convergence metric
      // pointer jumping: follow cc -> cc's own label (always <= cc since a
      // label's own label is a running min); halves remaining chain length
      // every round, giving O(log diameter) total rounds
      val obs = org.apache.spark.sql.Observation()
      val next = stepped
        .join(stepped.select(col("id").as("cc"), col("cc").as("cc2")),
          Seq("cc"), "left")
        .select(col("id"), coalesce(col("cc2"), col("cc")).as("cc"),
          col("prev"))
        // the changed-label count is collected by the checkpoint job
        // itself (observe metrics fire on the localCheckpoint action), so
        // the convergence check costs zero extra jobs
        .observe(obs, count(when(col("cc") =!= col("prev"), lit(1)))
          .as("changed"))
        .localCheckpoint()
      releaseCheckpoint(liveCkpt) // previous round: dead once `next` materialized
      liveCkpt = next
      iter += 1
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select(col("id"), col("cc"))
    }
    releaseCheckpoint(sym) // only the loop read the symmetrized edges
    // the FINAL round's blocks back the returned frame — their lifetime
    // belongs to the ambient scope (outside one: until GC, as before)
    val finalCkpt = liveCkpt
    CacheScope.onRelease(() => releaseCheckpoint(finalCkpt))
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents hit maxIter=$maxIter without converging; " +
          "cluster labels may be partially propagated")
    labels
  }

  /** Dup-pair clustering: near-dup pairs → (doc_id, cc) cluster labels
    * with cluster sizes. Docs not in any pair are not listed (they are
    * their own singleton cluster by definition). */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val cc = connectedComponents(pairs)
    val sizes = cc.groupBy(col("cc")).agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("cc"))
      .select(col("id").as("doc_id"), col("cc"), col("cluster_size"))
  }

  /** Triangle / wedge census of an undirected graph given as oriented
    * edges (a < b, two columns) — the transitivity QA for a near-dup
    * relation: a cluster whose members are pairwise-similar closes its
    * triangles; chained borderline matches don't. Returns ONE row:
    * (n_edges, n_triangles, n_wedges, clustering_coeff = 3·tri/wedges,
    * NULL when wedge-free — both engines, same guard rationale as
    * momentStats).
    *
    * Input edges must be a SET (one row per undirected edge); a defensive
    * `.distinct()` enforces it — duplicate edges would silently inflate
    * both censuses — and is a no-op shuffle-wise when the upstream
    * already deduped (AQE collapses the re-agg of unique rows).
    *
    * Plan — the degree-oriented census (the standard arboricity-bounded
    * construction): orient every edge from its LOWER-degree endpoint to
    * its higher (ties by id — any total order works), then count pairs of
    * out-edges sharing a source whose far endpoints are themselves
    * connected. Under this orientation each triangle matches exactly
    * once (its unique minimum vertex in the (degree, id) order is the
    * apex), and every per-vertex out-degree is bounded by O(sqrt(m)) /
    * the graph's arboricity — so the wedge-generating self-join cannot
    * blow up on a high-degree hub the way an id-oriented census can
    * (a star graph: id-orientation can put all m edges out of one
    * vertex → m² wedge candidates; degree-orientation caps it). All
    * joins are keyed equi-joins — never all-pairs. Wedges are an exact
    * integer aggregate over the same degree table.
    *
    * The (usually expensive) upstream pair generation is consumed into a
    * cached edge set ONCE — the census references edges five times, and
    * without the cache each reference re-executes the whole upstream
    * plan (measured 7x on dd_triangles when the input is ppjoinPairs).
    * The derived degree and oriented-edge frames are cached too (both
    * O(edges), both read 2-3 times). Caches route through the ambient
    * [[CacheScope]], like every pair operator. */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = CacheScope.track(edges.toDF("a", "b").distinct())
    val deg = CacheScope.track(e.select(col("a").as("v"))
      .union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d")))
    // attach endpoint degrees, orient low→high in the (degree, id) total
    // order; each directed edge carries its DESTINATION's order key so
    // the wedge pair (y, z) below can be ordered without re-joining
    val keyed = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
    val aKey = struct(col("da").as("d"), col("a").as("v"))
    val bKey = struct(col("db").as("d"), col("b").as("v"))
    val oriented = CacheScope.track(keyed.select(
      when(aKey < bKey, struct(col("a").as("x"), col("b").as("y"), bKey.as("yk")))
        .otherwise(struct(col("b").as("x"), col("a").as("y"), aKey.as("yk")))
        .as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"), col("e.yk").as("yk")))
    // wedges at apex x with far endpoints ordered by the orientation key:
    // the closing third edge, if present, is oriented exactly y→z
    val tri = oriented.select(col("x"), col("y"), col("yk"))
      .join(oriented.select(col("x"), col("y").as("z"), col("yk").as("zk")),
        Seq("x"))
      .filter(col("yk") < col("zk"))
      .join(oriented.select(col("x").as("y"), col("y").as("z")),
        Seq("y", "z"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val wedges = deg.agg(expr("SUM(d * (d - 1)) DIV 2").as("n_wedges"))
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(tri))
      .crossJoin(broadcast(wedges))
      .select(col("n_edges"), col("n_triangles"), col("n_wedges"),
        when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles").cast("double") /
            col("n_wedges").cast("double")).as("clustering_coeff"))
  }

  /** Link prediction over an undirected graph by neighborhood overlap:
    * common-neighbor count (Liben-Nowell & Kleinberg 2003) and the
    * Resource-Allocation index (Zhou, Lü & Zhang 2009, Σ 1/deg(apex) —
    * the RA weighting beats Adamic-Adar's 1/ln(deg) in their benchmarks
    * AND avoids ln, which is not bit-portable across engines). Scores
    * every NON-adjacent pair at distance 2 — on a dup graph these are
    * the "probably the same cluster, pair generation just missed the
    * edge" candidates a borderline-threshold pipeline re-examines.
    *
    * Exactness convention (engine-comparable results): each apex
    * contributes `1e6 DIV deg(apex)` — integer micros, so the per-pair
    * sum is an order-independent exact BIGINT (same trick as the linear
    * attribution shares). Ranking is the integer total order
    * (−ra_micros, −n_common, doc_a, doc_b), ties impossible to permute.
    *
    * Scale plan: wedge enumeration — symmetric neighbor table self-joined
    * on the apex (one id-keyed shuffle; cost Σ deg(x)², the same class as
    * [[triangleStats]] and bounded on a near-dup graph whose clusters are
    * capped by dedup itself), LEFT ANTI against the edge set to keep
    * non-edges, one (a,b)-keyed aggregate with map-side partials, then
    * top-k via TakeOrderedAndProject — never a global sort, never
    * all-pairs over the corpus. */
  def linkPrediction(edges: DataFrame, topK: Int): DataFrame = {
    // orientation-normalize BEFORE distinct so (x,y)/(y,x) inputs collapse
    // to one undirected edge — same contract harmonicCentrality enforces by
    // symmetrization; callers need not pre-normalize
    val e = CacheScope.track(edges.toDF("u", "v")
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct())
    val nbr = CacheScope.track(
      e.select(col("a").as("x"), col("b").as("y"))
        .union(e.select(col("b").as("x"), col("a").as("y"))))
    val deg = nbr.groupBy(col("x")).agg(count(lit(1)).as("d"))
    // wedges y—x—z (y<z matches the normalized a<b edge orientation),
    // each carrying its apex's exact integer-micros RA contribution
    val wedges = nbr
      .join(nbr.select(col("x"), col("y").as("z")), Seq("x"))
      .filter(col("y") < col("z"))
      .join(deg, Seq("x"))
      .select(col("y").as("a"), col("z").as("b"),
        expr("1000000 DIV d").as("ra_term"))
    wedges
      .join(e, Seq("a", "b"), "left_anti")
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("ra_term")).as("ra_micros"))
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("n_common"), col("ra_micros"))
      .orderBy(col("ra_micros").desc, col("n_common").desc,
        col("node_a"), col("node_b"))
      .limit(topK)
  }

  /** Harmonic centrality (Marchiori & Latora 2000; the centrality
    * Boldi & Vigna 2014 axiomatize as the well-behaved closeness):
    * H(v) = Σ_{u≠v} 1/d(u,v), with unreachable pairs contributing 0 —
    * the geodesic complement of the eigen family ([[pageRank]], HITS)
    * and the peel family ([[kCore]]) over the same dup-graph substrate.
    *
    * Exactness: each term is `1e6 DIV d` integer micros, so H is an
    * order-independent BIGINT sum (same convention as the RA index in
    * [[linkPrediction]]).
    *
    * Distributed form: per-source BFS as one (src, node, d) state table
    * grown frontier-by-frontier — each round ONE id-keyed equi-join of
    * the frontier against the symmetric neighbor table + one anti-join
    * against the reached set (the [[bfsHops]] delta iteration, carrying
    * the source instead of collapsing to one seed), localCheckpoint +
    * eager release per round. State is Σ|component|² rows — bounded on
    * a near-dup graph, whose components dedup itself keeps small.
    * `maxDepth` caps rounds; the oracle mirrors the cap (the
    * [[bfsHops]] truncation convention), so a deeper-than-cap pair is
    * identically absent on both engines. */
  def harmonicCentrality(edges: DataFrame, maxDepth: Int = 6): DataFrame =
    harmonicImpl(edges, maxDepth, None)
      .agg(sum(expr("1000000 DIV d")).as("harmonic_micros"),
        count(lit(1)).as("n_reached"))
      .orderBy(col("node"))

  /** Sampled-source harmonic centrality (Eppstein & Wang 2001): BFS from
    * the deterministic 1-in-`sampleMod` source subset (`id % sampleMod
    * == 0`; a production deployment hashes first — ids here are already
    * assignment-free) and scale each node's partial sum by `sampleMod` —
    * an unbiased estimator of H(v) for EVERY node from |V|/sampleMod
    * traversals instead of |V|.
    *
    * This is the 100 TB registration for [[harmonicCentrality]]: exact
    * per-source BFS is O(V·E) state/work no matter how it is
    * distributed (the sf0.1→sf1 sweep measured the exact form past the
    * 300 s cap at 10× data), while the sampled form costs
    * O(V·E / sampleMod) with sampleMod chosen to the accuracy budget
    * (Eppstein–Wang: Θ(log n / ε²) sources for ±ε·diameter error).
    * Estimates stay exact integers: `sampleMod · Σ 1e6 DIV d` — the
    * oracle replays the identical sampled walk, so the check is
    * bit-exact, not a tolerance. */
  def harmonicCentralitySampled(edges: DataFrame, maxDepth: Int = 6,
      sampleMod: Int = 4): DataFrame = {
    require(sampleMod >= 1, "sampleMod must be >= 1")
    harmonicImpl(edges, maxDepth, Some(sampleMod))
      .agg((sum(expr("1000000 DIV d")) * sampleMod)
          .as("harmonic_est_micros"),
        count(lit(1)).as("n_src_reached"))
      .orderBy(col("node"))
  }

  /** Shared BFS driver for the harmonic family: per-source frontier
    * expansion from either every node or the 1-in-`sampleMod` subset,
    * returning the (src, node, d>0) distance set grouped by node (the
    * caller picks the aggregate). */
  private def harmonicImpl(edges: DataFrame, maxDepth: Int,
      sampleMod: Option[Int]): org.apache.spark.sql.RelationalGroupedDataset = {
    val e = edges.toDF("a", "b").distinct()
    val nbr = CacheScope.track(
      e.select(col("a").as("x"), col("b").as("y"))
        .union(e.select(col("b").as("x"), col("a").as("y"))))
    val sources = sampleMod.foldLeft(nbr.select(col("x").as("v")).distinct()) {
      (vs, m) => vs.where(pmod(col("v"), lit(m)) === 0)
    }
    var reached = sources
      .select(col("v").as("src"), col("v").as("node"), lit(0).as("d"))
      .localCheckpoint()
    var frontier = reached
    var staleReached = reached
    var staleFrontier: DataFrame = null
    var depth = 0
    var converged = false
    // same stale-tracking checkpoint lifecycle as [[bfsHops]]. (A round-16
    // experiment replaced the per-round `merged` re-materialization with a
    // lazy union of the frontier checkpoints; it measured NEUTRAL on the
    // exact form and ~1.2x SLOWER on the sampled form — the per-round
    // union planning overhead outweighs the avoided rewrite at this state
    // size — so the materialized lifecycle stays.)
    while (!converged && depth < maxDepth) {
      depth += 1
      // frontier size observed during the checkpoint job itself — the
      // per-round emptiness check costs zero extra actions (round 17)
      val obs = org.apache.spark.sql.Observation()
      val next = frontier
        .join(nbr, frontier("node") === nbr("x"))
        .select(col("src"), col("y").as("node"), lit(depth).as("d"))
        .distinct()
        .join(reached, Seq("src", "node"), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      if (obs.get("n").asInstanceOf[Long] == 0L) {
        converged = true
        releaseCheckpoint(next) // empty; nothing downstream reads it
      } else {
        val merged = reached.unionByName(next).localCheckpoint()
        releaseCheckpoint(staleReached)
        if (staleFrontier ne null) releaseCheckpoint(staleFrontier)
        staleReached = merged
        staleFrontier = next
        reached = merged
        frontier = next
      }
    }
    val f1 = staleReached
    val f2 = staleFrontier
    CacheScope.onRelease(() => {
      releaseCheckpoint(f1)
      if (f2 ne null) releaseCheckpoint(f2)
    })
    reached.filter(col("d") > 0)
      .groupBy(col("node"))
  }

  /** k-core of an undirected graph (Seidman 1983): the maximal subgraph
    * in which every vertex has degree ≥ k, via the standard distributed
    * peel — each round recomputes degrees over the SURVIVING edge set
    * and drops every vertex below k at once (whole layers per round, so
    * rounds needed = the graph's peel depth, which for the dense
    * near-clique clusters of a dup graph is 2-3). Returns
    * (id, core_degree): the members of the k-core with their degree
    * INSIDE it — the exact dense-boilerplate-core vs sparse-periphery
    * split that [[pageRank]] hub scores only approximate (a template
    * copied pairwise sits in a high core; chains of borderline matches
    * peel away).
    *
    * Plan at 100 TB: per round one id-keyed hash agg with map-side
    * partials (degrees) + two anti-joins keyed on the dropped set —
    * nothing all-pairs, no driver-side state beyond the 1-bit
    * converged flag. `localCheckpoint` truncates per-round lineage and
    * the previous round's blocks are released eagerly (the
    * [[connectedComponents]] lifecycle). Termination: fixed point — a
    * round that would drop nothing — capped at `maxIter` with the same
    * observable-warning contract as CC. Peel is monotone (the surviving
    * edge set only shrinks), so extra rounds past convergence are no-ops
    * — the property that lets the DuckDB oracle unroll a fixed depth. */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 40): DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, "edge list needs (src, dst) columns")
    require(k >= 1, "k-core needs k >= 1")
    val e = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).distinct()
    // edge count observed during the symmetrize checkpoint: the peel's
    // fixed point is detected by edge-count equality (see loop comment),
    // so the starting count must be known — for free, off this same job
    val obs0 = org.apache.spark.sql.Observation()
    var sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    var nEdges = obs0.get("n").asInstanceOf[Long]
    var liveCkpt = sym
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // degrees over the current survivors; symmetric closure makes the
      // out-degree of `a` the full undirected degree. Convergence
      // (round 17): a dropped vertex has 1 ≤ degree < k, so a non-empty
      // drop strictly shrinks the edge set and an empty drop leaves it
      // unchanged — fixed point ⟺ the peeled edge count equals the
      // round's input count. That count is an `observe` metric collected
      // during the round's own checkpoint job, so the previous isEmpty
      // pre-action (which ran the degree aggregate once just to decide,
      // before the peel re-ran it) is gone — ONE job per round, at the
      // price of one redundant final-round checkpoint (the no-op peel
      // that proves convergence).
      val drop = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .filter(col("d") < k).select(col("a").as("v"))
      val obs = org.apache.spark.sql.Observation()
      val next = sym
        .join(drop.select(col("v").as("a")), Seq("a"), "left_anti")
        .join(drop.select(col("v").as("b")), Seq("b"), "left_anti")
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      val nNext = obs.get("n").asInstanceOf[Long]
      if (nNext == nEdges) {
        converged = true
        releaseCheckpoint(next) // identical to sym; nothing reads it
      } else {
        nEdges = nNext
        releaseCheckpoint(liveCkpt)
        liveCkpt = next
        sym = next
        iter += 1
      }
    }
    val finalCkpt = liveCkpt
    CacheScope.onRelease(() => releaseCheckpoint(finalCkpt))
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"kCore hit maxIter=$maxIter without converging; " +
          "the returned subgraph may still contain sub-k vertices")
    sym.groupBy(col("a")).agg(count(lit(1)).as("core_degree"))
      .select(col("a").as("id"), col("core_degree"))
  }

  /** Incremental connected-components maintenance: fold a batch of NEW
    * edges into an EXISTING labeling without re-walking the old graph.
    * The old labeling is replayed as STAR edges (id → its component
    * label — connectivity-equivalent to the original edge set but
    * depth-1 by construction), unioned with the new edges, and
    * [[connectedComponents]] reruns over that: rounds needed scale with
    * how many old components the new batch CHAINS together, not with
    * the old graph's diameter — the path-compression dividend that
    * makes nightly dup-graph maintenance O(batch), the batch sibling
    * of the streaming index in
    * [[graft.streaming.StreamingDedup]]. Result provably equals the
    * full-graph CC (star edges preserve exact connectivity; labels are
    * member min-ids in both), which is what the dd_cc_incremental
    * oracle checks. */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val star = labels.select(col(labels.columns(0)).as("a"),
      col(labels.columns(1)).as("b"))
      .filter(col("a") =!= col("b"))
    val cols = newEdges.columns
    val e = newEdges.select(col(cols(0)).as("a"), col(cols(1)).as("b"))
    connectedComponents(star.unionByName(e))
  }

  /** Newman modularity of a vertex partition (Newman & Girvan 2004) —
    * the quality score that tells you whether a community split
    * ([[labelPropagation]]) actually beats random: per community c,
    *
    *   Q_c = e_c/m − (d_c / 2m)²,   Q = Σ_c Q_c
    *
    * with e_c intra-community edges, d_c member degree sum, m total
    * edges. All in EXACT integers until one final division:
    * Q_c = (4·m·e_c − d_c²) / (4m²) — numerators are order-independent
    * long sums (the [[pageRank]] fixed-point discipline), so the
    * usually-float-fuzzy Q is bit-replicable, including the global Q
    * (an exact long window sum of numerators, divided once).
    *
    * Plan at 100 TB: two label-keyed hash aggs (degree sums, member
    * counts), one edge→label equi-join pair for intra counts, one
    * bounded window over the community-count-sized frame. `m` is ONE
    * driver count action (a scalar, not data). */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val cols = edges.columns
    // cached (round 16): the census reads the edge set four times — the
    // m count action, the symmetric degree agg, and the intra-community
    // join pair — and without the cache each read re-executes the whole
    // upstream pair generation (the measured triangleStats lesson; for
    // dd_modularity that upstream is ppjoinPairs, ~0.5 s per re-run).
    val e = CacheScope.track(
      edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).distinct())
    val m = e.count()
    val denom = (4L * m * m).toDouble
    val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .select(col("a").as("id"), col("deg"))
    val lab = labels.select(col("id"), col("label"))
    val intra = e
      .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
    val perLabel = lab.join(deg, Seq("id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"), sum(col("deg")).as("degree_sum"))
      .join(intra, Seq("label"), "left")
      .select(col("label"), col("n_members"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum").cast("long").as("degree_sum"))
      .withColumn("qc_num",
        lit(4L * m) * col("intra_edges") -
          col("degree_sum") * col("degree_sum"))
    import org.apache.spark.sql.expressions.Window
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perLabel.select(col("label"), col("n_members"), col("intra_edges"),
      col("degree_sum"), col("qc_num"),
      (col("qc_num").cast("double") / lit(denom)).as("q_contrib"),
      (sum(col("qc_num")).over(wAll).cast("double") / lit(denom))
        .as("q_total"))
  }

  /** Multi-source BFS with seed attribution — landmark hop distances
    * over an undirected edge list: each reached vertex gets
    * (dist = min hops to any seed, seed = the attributed landmark,
    * smallest seed id on ties). Seeds are the `nSeeds` smallest vertex
    * ids (deterministic). This is the dup-graph triage pass "how far is
    * every document from the canonical templates": dist 1 = direct
    * near-dup of a landmark, dist 2 = dup-of-a-dup (decayed copy), etc.
    *
    * DELTA iteration, not full relaxation: each round joins only the
    * FRONTIER (vertices improved last round) against the edge set,
    * merges candidates by lexicographic MIN(struct(d, seed)) — the
    * Bellman–Ford fixpoint for the (dist, seed) order, reached in
    * (eccentricity+1) rounds because improvements re-enter the
    * frontier. Converged when a round improves nothing (the kCore
    * isEmpty check); capped at `maxDepth` rounds, which also bounds
    * every reported dist ≤ maxDepth — the SAME truncation the oracle's
    * recursive CTE applies, so cap semantics are oracle-checked too.
    *
    * Plan at 100 TB: per round one frontier-keyed equi-join against the
    * edge set + one id-keyed struct-MIN agg with map-side partials + a
    * strict-improvement anti-filter — cost proportional to the frontier,
    * not the settled set (the Pregel/GraphX BFS shape in pure DataFrame
    * algebra). Per-round localCheckpoint with eager release of the
    * previous round's blocks (the [[connectedComponents]] lifecycle);
    * driver state is one boolean. */
  def bfsHops(edges: DataFrame, nSeeds: Int = 3, maxDepth: Int = 8): DataFrame = {
    val cols = edges.columns
    require(cols.length >= 2, "edge list needs (src, dst) columns")
    val e = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).distinct()
    val sym = CacheScope.track(
      e.union(e.select(col("b").as("a"), col("a").as("b"))))
    val seeds = sym.select(col("a")).distinct().orderBy(col("a"))
      .limit(nSeeds)
    var dist = seeds
      .select(col("a").as("id"), col("a").as("seed"), lit(0).as("d"))
      .localCheckpoint()
    var frontier = dist
    var staleDist = dist
    var staleFrontier: DataFrame = null
    var depth = 0
    var converged = false
    while (!converged && depth < maxDepth) {
      val cand = frontier.select(col("id").as("a"), col("seed"), col("d"))
        .join(sym, Seq("a"))
        .groupBy(col("b"))
        .agg(min(struct((col("d") + 1).as("d"), col("seed").as("seed")))
          .as("best"))
        .select(col("b").as("id"), col("best.d").as("d"),
          col("best.seed").as("seed"))
      // improvement count observed during the checkpoint job itself — the
      // per-round emptiness check costs zero extra actions (round 17)
      val obs = org.apache.spark.sql.Observation()
      val improved = cand.as("c")
        .join(dist.select(col("id"), col("d").as("td"),
          col("seed").as("tseed")), Seq("id"), "left")
        .filter(col("td").isNull ||
          (struct(col("d"), col("seed")) < struct(col("td"), col("tseed"))))
        .select(col("id"), col("d"), col("seed"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint()
      if (obs.get("n").asInstanceOf[Long] == 0L) {
        converged = true
        releaseCheckpoint(improved) // empty; nothing downstream reads it
      } else {
        val next = dist.join(improved.select(col("id")), Seq("id"),
            "left_anti")
          .unionByName(improved)
          .localCheckpoint()
        releaseCheckpoint(staleDist)
        if (staleFrontier ne null) releaseCheckpoint(staleFrontier)
        staleDist = next
        staleFrontier = improved
        dist = next
        frontier = improved
        depth += 1
      }
    }
    val f1 = staleDist
    val f2 = staleFrontier
    CacheScope.onRelease(() => {
      releaseCheckpoint(f1)
      if (f2 ne null) releaseCheckpoint(f2)
    })
    dist
  }

  /** PageRank over an undirected edge list, in INTEGER fixed-point — the
    * centrality pass a dedup pipeline runs over its dup graph to rank
    * cluster hubs (the doc most-connected to near-duplicates is the
    * template/boilerplate source; its satellites are the copies).
    *
    * Arithmetic is exact-integer by construction so the result is
    * bit-identical in any engine (the reason PageRank is usually hard to
    * oracle-check is float summation order; integers are
    * order-independent): scores are billionths (init 1e9 per vertex ≙
    * rank 1.0), each vertex sends `score DIV outdeg` along every
    * out-edge, and the damped update is
    * `150_000_000 + (Σ_in · 85) DIV 100` — the classic d=0.85 rule with
    * the two divisions floored. The floor drops ≤ outdeg + 99 billionths
    * of mass per vertex per round (≈1e-7 relative): immaterial for
    * ranking, and a price identical on every engine. Overflow: a single
    * vertex's Σ_in is bounded by the total mass N·1e9 (star-graph worst
    * case), so ·85 stays under 2^63 for N up to ~1e8 vertices; a larger
    * graph drops the fixed-point scale to 1e6 (same algorithm, 3 fewer
    * guard digits).
    *
    * The symmetric closure means no dangling vertices (every vertex has
    * an out-edge), so no dangling-mass term. A fixed `iters` rounds (not
    * convergence detection) keeps the algorithm a pure function of the
    * input — dup graphs are low-diameter, 5 rounds is plenty for a
    * stable hub ordering.
    *
    * Plan at 100 TB: per round one keyed equi-join (out-edges ⋈ scores
    * on the source id) and one id-keyed hash agg with map-side partial
    * sums — the textbook distributed PageRank shape; nothing all-pairs,
    * no driver-side state. The edge list is cached via [[CacheScope]] (it is
    * read every round); score lineage grows linearly in `iters`, which
    * at 5 rounds needs no checkpoint (a 50-round run would
    * `localCheckpoint` every ~10 like [[connectedComponents]]). */
  def pageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val cols = edges.columns
    val e = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).distinct()
    val sym = CacheScope.track(
      e.union(e.select(col("b").as("a"), col("a").as("b"))))
    val out = CacheScope.track(sym.groupBy(col("a"))
      .agg(count(lit(1)).as("outdeg"))
      .select(col("a").as("id"), col("outdeg")))
    // round 16: carry the DESTINATION's degree on each edge row (one
    // cached join, paid once) so the per-round aggregate emits the next
    // score table directly — the old `out ⋈ contrib` re-join per round
    // (one exchange + broadcast build × iters) is gone. Coverage is
    // unchanged: the symmetric closure puts every vertex on the `b` side
    // of some edge, so the aggregate's groups are exactly `out`'s rows,
    // in_sum is never NULL, and first(bdeg) is the constant outdeg of
    // `b` — the arithmetic below is byte-identical to the joined form.
    val symDeg = CacheScope.track(sym
      .join(out.select(col("id").as("b"), col("outdeg").as("bdeg")), Seq("b")))
    var r = out.withColumn("score", lit(1000000000L))
    (1 to iters).foreach { _ =>
      r = symDeg
        .join(r.select(col("id").as("a"), expr("score DIV outdeg").as("c")),
          Seq("a"))
        .groupBy(col("b"))
        .agg(sum(col("c")).as("in_sum"), first(col("bdeg")).as("outdeg"))
        .select(col("b").as("id"), col("outdeg"),
          (lit(150000000L) +
            expr("coalesce(in_sum, 0) * 85 DIV 100")).as("score"))
    }
    r
  }

  /** WEIGHTED PageRank over a directed weighted edge list (src, dst, w)
    * — the [[pageRank]] conventions (integer fixed-point at 1e-9 grain,
    * damping 85/100, FIXED iteration count so the operator is a pure
    * function of its input and the unrolled oracle exact by
    * construction), with mass flowing ∝ edge weight: each source
    * contributes `score·w DIV W(src)` per out-edge (W = Σ out-weights).
    * BIGINT bound: score·w ≤ ~1e9·w — safe to w ≈ 9e9 per edge.
    * Directed — unlike [[pageRank]], edges are NOT symmetrized: the
    * natural input is a transition-count graph (who hands traffic to
    * whom), where direction is the signal. Nodes with no outgoing edges
    * would leak mass; callers feed transition graphs where every
    * observed node has out-mass (a lag-pair extraction guarantees this
    * for all but each user's final state — acceptable leak, documented).
    * Plan per iteration: one src-keyed equi-join + one dst-keyed agg;
    * the node table is |nodes|-bounded and broadcasts. */
  def weightedPageRank(edges: DataFrame, iters: Int = 5): DataFrame = {
    val cols = edges.columns
    // round 17: the edge table itself is small (transition graphs are
    // |node types|²-bounded) but its LINEAGE is a data-sized extraction
    // (ref_weighted_pagerank: a per-user lag window + count agg over
    // the whole events table), and uncached it re-ran once per
    // iteration join plus once each for out/nodes — the round-start
    // static plan held 46 Window nodes for 5 iterations. Cache the
    // edge and node tables via CacheScope — [[pageRank]]'s round-16 lesson
    // applied to the weighted variant.
    val e = CacheScope.track(edges.select(col(cols(0)).as("a"),
      col(cols(1)).as("b"), col(cols(2)).as("w")))
    val out = e.groupBy(col("a")).agg(sum(col("w")).as("wout"))
      .select(col("a").as("id"), col("wout"))
    // nodes = every endpoint (a sink-only node still accumulates score)
    val nodes = CacheScope.track(
      e.select(col("a").as("id")).union(e.select(col("b").as("id")))
        .distinct().join(out, Seq("id"), "left")
        .select(col("id"), coalesce(col("wout"), lit(0L)).as("wout")))
    // wout(a) attached to each edge row ONCE: the per-round join then
    // ships only (id, score) instead of re-carrying wout through every
    // round. Identical arithmetic — wout is constant per source, and
    // every `a` is in nodes with its true out-mass, so `score·w DIV
    // wout` sees exactly the value the old r-carried column held.
    val eW = CacheScope.track(e.join(
      nodes.select(col("id").as("a"), col("wout")), Seq("a")))
    var r = nodes.withColumn("score", lit(1000000000L))
    (1 to iters).foreach { _ =>
      val contrib = eW
        .join(r.select(col("id").as("a"), col("score")), Seq("a"))
        .select(col("b"), expr("score * w DIV wout").as("c"))
        .groupBy(col("b")).agg(sum(col("c")).as("in_sum"))
        .select(col("b").as("id"), col("in_sum"))
      r = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"), col("wout"),
          (lit(150000000L) +
            expr("coalesce(in_sum, 0) * 85 DIV 100")).as("score"))
    }
    r
  }

  /** Label-propagation community detection (Raghavan et al. 2007) over an
    * undirected edge list — the cheap linear-time community pass a dedup
    * pipeline runs when connected components are too coarse (one bridge
    * edge fuses two template families into one CC; LPA keeps them apart
    * because each side's majority vote dominates its own half).
    *
    * SYNCHRONOUS variant with a fully deterministic update: every vertex
    * starts labeled with its own id, and each round adopts the most
    * frequent label among its neighbors, ties broken by SMALLEST label —
    * argmax implemented as `MIN(struct(-cnt, label))` (lexicographic
    * struct order), one hash agg, no window. Synchronous LPA can
    * oscillate on bipartite-ish structures, so a FIXED round count (not
    * convergence detection) keeps the operator a pure function of its
    * input — same discipline as [[pageRank]] — and makes the unrolled
    * oracle exact by construction. All-integer, bit-replicable.
    *
    * Plan at 100 TB: per round one keyed equi-join (edges ⋈ labels on
    * the neighbor id) + one (vertex, label)-keyed count agg + one
    * vertex-keyed MIN agg, all with map-side partials; per-round
    * localCheckpoint keeps lineage flat (the [[connectedComponents]]
    * lifecycle). Nothing all-pairs, no driver state. */
  def labelPropagation(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val cols = edges.columns
    val e = edges.select(col(cols(0)).as("a"), col(cols(1)).as("b")).distinct()
    val sym = CacheScope.track(
      e.union(e.select(col("b").as("a"), col("a").as("b"))))
    var labels: DataFrame = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    // round 16: the loop is FIXED-round (no per-round convergence
    // action), every intermediate labeling is read exactly once (by the
    // next round), and `sym` is already cached — so the whole chain runs
    // lazily as ONE query instead of one eager checkpoint job per round.
    // Only the FINAL labeling is checkpointed: callers (modularity) scan
    // it several times, and 4 rounds of join+agg lineage is bounded.
    (1 to rounds).foreach { _ =>
      labels = sym
        .join(labels.select(col("id").as("b"), col("label")), Seq("b"))
        .groupBy(col("a"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("a"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("l")))
          .as("best"))
        .select(col("a").as("id"), col("best.l").as("label"))
    }
    val finalCkpt = labels.localCheckpoint()
    CacheScope.onRelease(() => releaseCheckpoint(finalCkpt))
    finalCkpt
  }

  /** Degree assortativity (Newman, PRL 2002): Pearson correlation of
    * degrees across edge endpoints, both directions (the undirected
    * convention — each edge contributes (dₐ,d_b) AND (d_b,dₐ), making
    * the statistic symmetric). Positive: hubs link hubs; negative:
    * hub-and-spoke. Delegates the statistics to
    * [[Profile.momentStats]] — exact DECIMAL moments, fixed IEEE
    * derivation, degenerate-variance NULL guard (a regular graph has
    * zero degree variance → NULL corr on both engines, not a NaN
    * disagreement). Plan: one degree agg + two id-keyed joins + one
    * global moment agg — all map-side-partial shuffles on the edge
    * list the caller already materialized. */
  def assortativity(pairs: DataFrame): DataFrame = {
    val cols = pairs.columns
    // cached (round 16): `sym` is scanned by the degree agg AND the
    // endpoint join, `deg` by both endpoint joins — without the caches
    // every scan re-executes the upstream pair generation (ppjoinPairs
    // for dd_assortativity), the triangleStats lesson again.
    val sym = CacheScope.track(
      pairs.select(col(cols(0)).as("a"), col(cols(1)).as("b"))
        .union(pairs.select(col(cols(1)).as("a"), col(cols(0)).as("b"))))
    val deg = CacheScope.track(
      sym.groupBy(col("a").as("id")).agg(count(lit(1)).as("deg")))
    val dp = sym
      .join(deg.select(col("id").as("a"), col("deg").as("dx")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("dy")), Seq("b"))
    Profile.momentStats(dp, Seq.empty, col("dx"), col("dy"))
  }
}
