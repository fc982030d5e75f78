package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph analytics over edge tables (SURVEY.md §2c extension surface):
  * PageRank-style importance propagation — the crawl-frontier /
  * source-weighting signal web-corpus curation pipelines attach to
  * documents (OPIC, Common Crawl harmonic centrality). Complements
  * [[Dedup.connectedComponents]] (reachability) with a magnitude.
  *
  * Cross-engine determinism: iterative PageRank is normally hostage to
  * IEEE summation order. Here each edge contribution `r(u)/outdeg(u)`
  * quantizes to DECIMAL(18,12) BEFORE the per-node sum (the ta14
  * pattern — a last-ulp divergence can't flip a 12-dp quantization),
  * so the per-iteration sums are exact rationals and the rank update
  * is three correctly-rounded IEEE ops (`reset/N + d·Σ`) on identical
  * operands — bit-identical on any engine or partitioning, which lets
  * a DuckDB oracle replay the identical unrolled iterations.
  *
  * Scale shape: classic BSP PageRank — per iteration one |E|-row join
  * keyed on src and one |V|-row aggregation keyed on dst; no
  * all-pairs, no driver-side state beyond the node count. Lineage is
  * truncated with a checkpoint per iteration (the
  * [[Dedup.connectedComponents]] discipline: each checkpoint outlives
  * only the next round's materialization).
  */
object Graph {

  /** The engine-portable 12-dp quantizer shared by every sparse-rank
    * iterative operator here ([[personalizedPageRank]],
    * [[pageRankClassic]], [[hits]]): `floor(q·10¹² + 0.5)` of the
    * identically-computed IEEE double, rebuilt as an exact
    * integer×decimal product — the km05 lesson (a raw double→DECIMAL
    * cast rounds the shortest decimal string in Spark but the exact
    * binary in DuckDB, diverging at half boundaries). ONE definition
    * so the oracles' shared SQL idiom can never desynchronize across
    * operators.
    */
  private def quant12(c: Column): Column =
    floor(c * 1000000000000.0 + 0.5).cast(DecimalType(14, 0)) *
      lit(new java.math.BigDecimal("0.000000000001"))

  /** The damping factor and teleport share of the PageRank family
    * ([[pageRank]], [[pageRankClassic]], [[personalizedPageRank]]).
    * `Reset` is its own literal rather than `1 − Damping` because
    * `1.0 − 0.85` is NOT the double `0.15` — the SQL oracles state the
    * literal `0.15`, so the engine must too.
    */
  private val Damping = 0.85
  private val Reset = 0.15

  /** A (src, dst) edge list with both endpoints as longs. */
  private def directedEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast(LongType).as("src"),
      col("dst").cast(LongType).as("dst"))

  /** Lineage-truncation CADENCE for the single-consumer BSP loops
    * ([[pageRank]], [[personalizedPageRank]], [[labelPropagation]]):
    * checkpoint every 2nd round plus the final one, instead of every
    * round (r21, guide §5). Each of these loops reads the previous
    * round's frame EXACTLY ONCE per round (one contrib/vote join), so
    * deferring a round's materialization duplicates no work — the
    * skipped round simply fuses into the next checkpoint's job —
    * while halving the per-round driver actions and block writes; the
    * in-between plan is bounded at two rounds deep, so planning stays
    * O(1) at any iteration count. NOT applied to the double-consumer
    * loops (pageRankClassic's dangling read, hits' two chains, kCore's
    * degree+semi-join reads, the CC rounds), where skipping a round's
    * checkpoint would recompute its whole subtree per extra consumer.
    * Results are bit-identical either way — the cadence changes WHEN
    * frames materialize, never what they compute.
    */
  private val lineageEvery = 2
  private def rollingEvery(cp: Checkpointing.Truncator, round: Int,
                           last: Int)(df: DataFrame): DataFrame =
    if (round % lineageEvery == 0 || round == last) cp.rolling(df) else df

  /** `iterations` rounds of damped PageRank (`Damping` 0.85, `Reset`
    * 0.15) over a directed edge list (src, dst). Returns (v, r) for
    * every node with at least one OUT-edge (symmetrize the input if
    * every endpoint should score, or use [[pageRankClassic]] for the
    * textbook semantics: sinks are nodes and their mass redistributes
    * instead of draining). Lineage is truncated by the
    * [[Checkpointing]] policy: reliable when the session has a
    * checkpoint directory (`spark.checkpoint.dir`), local otherwise.
    */
  def pageRank(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val cp = Checkpointing.truncator(edges.sparkSession)
    val e = directedEdges(edges)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // one materialized (src, dst, outdeg) table feeds every iteration —
    // without it each round re-evaluates the upstream edge pipeline
    val ed = cp(e.join(deg, "src"))
    val nodes = cp(ed.select(col("src").as("v")).distinct())
    val n = nodes.count()
    require(n > 0, "pageRank needs a non-empty graph (1/n teleport)")
    var ranks = nodes.select(col("v"), lit(1.0 / n).as("r"))
    for (i <- 1 to iterations) {
      val contrib = ed
        .join(ranks.select(col("v").as("src"), col("r")), "src")
        .select(col("dst"),
          (col("r") / col("outdeg")).cast(DecimalType(18, 12)).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      val next = rollingEvery(cp, i, iterations)(nodes
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"),
          (lit(Reset / n) + lit(Damping) *
            coalesce(col("cs").cast(DoubleType), lit(0.0))).as("r")))
      ranks = next
    }
    ranks
  }

  /** CLASSIC-semantics PageRank: every endpoint is a node (sinks
    * included) and each iteration redistributes the DANGLING MASS —
    * the rank sitting on zero-out-degree nodes — uniformly across the
    * graph (Page et al. 1999; the textbook fixpoint). [[pageRank]]
    * deliberately scores only out-edge nodes and drops sink mass
    * (documented there); on sink-heavy web-crawl graphs the two
    * diverge materially, and the classic variant is the one whose
    * total mass is CONSERVED: Σr = 1 every round (up to the 1e-12
    * contribution quantization), which is what makes scores
    * comparable across snapshots of a growing crawl.
    *
    * r'(v) = reset/N + damping·(Σ_{u→v} r(u)/outdeg(u) + D/N) where
    * D = Σ_{sinks s} r(s). Contributions AND the dangling terms
    * quantize to 12 dp via the engine-portable `floor(q·10¹² + 0.5)`
    * idiom (the km05 lesson — a raw double→DECIMAL cast rounds
    * differently per engine at half boundaries), so the per-node sum
    * and the one-row dangling sum are exact decimals and the rank
    * update is a fixed chain of correctly-rounded IEEE ops on
    * identical operands — bit-identical on any engine/partitioning,
    * replayable by an unrolled SQL oracle.
    *
    * Scale shape: identical to [[pageRank]] — per round one |E| join
    * + one |V| keyed agg — plus one sink-filtered aggregation whose
    * single row rides a broadcast; no extra shuffle, no driver-side
    * per-round action.
    */
  def pageRankClassic(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val cp = Checkpointing.truncator(edges.sparkSession)
    val e = directedEdges(edges)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = cp(e.join(deg, "src"))
    // classic node set = src ∪ dst; sinks carry outdeg NULL
    val nodes = cp(e.select(explode(array(col("src"), col("dst"))).as("v"))
      .distinct()
      .join(deg.select(col("src").as("v"), col("outdeg")), Seq("v"), "left"))
    val n = nodes.count()
    require(n > 0, "pageRankClassic needs a non-empty graph (1/n teleport)")
    var ranks = nodes.select(col("v"), col("outdeg"), lit(1.0 / n).as("r"))
    for (_ <- 1 to iterations) {
      val contrib = ed
        .join(ranks.select(col("v").as("src"), col("r")), "src")
        .select(col("dst"), quant12(col("r") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      val dangling = ranks.filter(col("outdeg").isNull)
        .agg(coalesce(sum(quant12(col("r"))),
          lit(new java.math.BigDecimal("0"))).as("dm"))
      val next = cp.rolling(nodes
        .join(contrib, col("v") === col("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("v"), col("outdeg"),
          (lit(Reset / n) + lit(Damping) *
            (coalesce(col("cs").cast(DoubleType), lit(0.0)) +
              col("dm").cast(DoubleType) / lit(n.toDouble))).as("r")))
      ranks = next
    }
    ranks.select(col("v"), col("r"))
  }

  /** Personalized PageRank: random walk with restart to a SEED SET —
    * the trust/quality-propagation shape (TrustRank-style) a curation
    * pipeline runs to expand a small set of vetted sources into
    * corpus-wide source scores: teleport mass goes ONLY to the seeds,
    * so rank concentrates in the seeds' neighborhood instead of
    * spreading globally ([[pageRank]]'s uniform teleport).
    *
    * `seeds`' first column holds node ids (must be nodes of the
    * graph). r₀ = 1/|S| on seeds, 0 elsewhere; each round
    * r' = reset·1_S/|S| + damping·Σ contrib with edge contributions
    * quantized to 12 dp via the engine-portable `floor(q·10¹² + 0.5)`
    * idiom (the km05 lesson: a raw double→DECIMAL cast rounds the
    * shortest decimal string in Spark but the exact binary in DuckDB,
    * and this walk's sparse rank vector lands on half boundaries that
    * [[pageRank]]'s dense uniform vector happens to avoid) — exact
    * per-node sums + three correctly-rounded IEEE ops, so every
    * iteration is bit-identical across engines and partitionings.
    *
    * Scale shape: identical to [[pageRank]] — per round one |E| join +
    * one keyed agg; the seed flag rides the materialized node table
    * (one broadcast-joined bit, computed once).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iterations: Int): DataFrame = {
    require(iterations >= 0, "iterations must be non-negative")
    val cp = Checkpointing.truncator(edges.sparkSession)
    val e = directedEdges(edges)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val ed = cp(e.join(deg, "src"))
    val sd = seeds.select(seeds.columns.head).toDF("_sv")
      .select(col("_sv").cast(LongType).as("_sv"), lit(1).as("_isSeed"))
    // seed flag materialized onto the node table once
    val nodes = cp(ed.select(col("src").as("v")).distinct()
      .join(broadcast(sd), col("v") === col("_sv"), "left")
      .select(col("v"), coalesce(col("_isSeed"), lit(0)).as("_isSeed")))
    val nSeeds = nodes.filter(col("_isSeed") === 1).count()
    require(nSeeds > 0, "no seed id is a node of the graph")
    var ranks = nodes.select(col("v"),
      when(col("_isSeed") === 1, lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("r"))
    for (i <- 1 to iterations) {
      val contrib = ed
        .join(ranks.select(col("v").as("src"), col("r")), "src")
        .select(col("dst"), quant12(col("r") / col("outdeg")).as("c"))
        .groupBy("dst").agg(sum(col("c")).as("cs"))
      val next = rollingEvery(cp, i, iterations)(nodes
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"), col("_isSeed"),
          (when(col("_isSeed") === 1, lit(Reset / nSeeds)).otherwise(lit(0.0)) +
            lit(Damping) * coalesce(col("cs").cast(DoubleType), lit(0.0)))
            .as("r")))
      ranks = next
    }
    ranks.select(col("v"), col("r"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    * list: per round, authority(v) = Σ_{u→v} hub(u) and then
    * hub(u) = Σ_{u→v} authority(v), each vector L1-normalized to sum
    * to 1 (the textbook power iteration with sum-normalization — the
    * variant whose normalizer is an EXACT decimal sum rather than an
    * L2 sqrt, which is what makes the rounds replayable in SQL). On a
    * bipartite order graph this separates "big buyers" (hubs) from
    * "widely-bought-from suppliers" (authorities) — two rankings
    * PageRank's single score conflates.
    *
    * Determinism: every contribution quantizes to 12 dp via the
    * engine-portable `floor(q·10¹² + 0.5)` idiom before its per-node
    * sum; the L1 normalizer is the exact decimal sum of those sums,
    * and each normalized score is ONE IEEE division of identical
    * operands — bit-identical across engines/partitionings, oracle
    * unrolls the same rounds.
    *
    * Scale shape: per half-round one |E| join keyed on the scored side
    * + one keyed agg + a 1-row broadcast normalizer — the
    * [[pageRank]] BSP shape twice per round; lineage truncated per
    * round ([[Checkpointing]] policy, rolling cleanup).
    */
  def hits(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val cp = Checkpointing.truncator(edges.sparkSession)
    // hub and auth are two INDEPENDENT rolling chains: hub_r is built
    // from auth_r and vice versa, so a single chain would delete the
    // final auth round the moment the final hub round lands. Each
    // chain's truncator prunes only its own superseded rounds.
    val cpAuth = Checkpointing.truncator(edges.sparkSession)
    val cpHub = Checkpointing.truncator(edges.sparkSession)
    // per-half-round contrib chain (r21): contrib feeds BOTH the L1
    // normalizer broadcast and the score join — unpinned, the |E|-row
    // join + aggregation evaluated TWICE per half-round (once under the
    // broadcast, once in the main join; Spark does not dedupe common
    // DataFrame subtrees). One rolling checkpoint makes both consumers
    // read the materialized rows; a contrib is fully consumed by its
    // own half-round's materialization, so the next rolling call's
    // release can never strand a reader.
    val cpContrib = Checkpointing.truncator(edges.sparkSession)
    val e = cp(directedEdges(edges).distinct())
    val nodes = cp(e.select(explode(array(col("src"), col("dst"))).as("v"))
      .distinct())
    val n = nodes.count()
    require(n > 0, "hits needs a non-empty graph")
    // one half-round: scores flow across edges from `from`→`to`, sum
    // per target, L1-normalize; nodes with no in-flow score 0
    var lastContrib: DataFrame = null
    def halfRound(scores: DataFrame, from: String, to: String): DataFrame = {
      val contrib = cpContrib.rolling(e
        .join(scores.select(col("v").as(from), col("s")), from)
        .select(col(to).as("v"), quant12(col("s")).as("c"))
        .groupBy("v").agg(sum(col("c")).as("cs")))
      lastContrib = contrib
      val tot = contrib.agg(sum(col("cs")).as("t"))
      nodes.join(contrib, Seq("v"), "left").crossJoin(broadcast(tot))
        .select(col("v"),
          coalesce(col("cs").cast(DoubleType), lit(0.0)) /
            col("t").cast(DoubleType)).toDF("v", "s")
    }
    var hub = nodes.select(col("v"), lit(1.0 / n).as("s"))
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      auth = cpAuth.rolling(halfRound(hub, "src", "dst"))
      hub = cpHub.rolling(halfRound(auth, "dst", "src"))
    }
    // the final half-round's contrib is fully consumed by the final
    // hub checkpoint above — release it so the loop's storage residue
    // stays the final hub + auth rounds only (the O(1) contract
    // CurationOpsSpec pins)
    cpContrib.release(lastContrib)
    // INNER join, matching the oracle: both chains emit exactly the
    // node set by construction (each half-round is nodes LEFT JOIN
    // contrib), so a full-outer + coalesce-to-0 would only MASK a
    // future coverage bug as silent zero rows where the oracle's
    // inner join would drop the row and fail loudly on count
    hub.select(col("v"), col("s").as("hub"))
      .join(auth.select(col("v"), col("s").as("authority")), Seq("v"))
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal community-detection and spam/link-farm scoring
    * pipelines attach to web-graph nodes. Returns (node, n_tri) for
    * every node on ≥ 1 triangle.
    *
    * Implementation is the degree-ordered "compact-forward" scheme
    * (Latapy 2008; also Cohen's MapReduce formulation): each undirected
    * edge is oriented from its lower-(degree, id) endpoint to the
    * higher, wedges are enumerated only at each edge's LOW endpoint,
    * and a wedge (v1, v2) closes iff the oriented edge v1→v2 exists.
    * Every triangle is found exactly once, and — the scale property —
    * a hub of degree d contributes wedges only through its low-degree
    * neighbors, so per-task wedge fan-out is bounded by the graph's
    * degeneracy (≈ √|E| worst case), not by d² of the hottest hub. A
    * naive id-ordered orientation would put a low-id hub at the low end
    * of every incident edge and explode d²/2 wedges in one task.
    *
    * Counts are orientation-invariant, so an oracle may enumerate with
    * the simple a<b<c id ordering and must agree row-for-row.
    *
    * Shape: two shuffles to canonicalize + degree the edges, one
    * equi-join on the wedge pivot, one equi-join against oriented edges
    * for closure, one aggregation — no cartesian anywhere.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
    triangleCountsFrom(und, undirectedDegrees(und))
  }

  /** Canonical undirected, de-duplicated, loop-free edge set (a < b)
    * of a (src, dst) edge list.
    */
  private def undirectedEdges(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).cast(LongType).as("a"),
        greatest(col("src"), col("dst")).cast(LongType).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** (v, deg) over a canonical undirected edge set. */
  private def undirectedDegrees(und: DataFrame): DataFrame = und
    .select(explode(array(col("a"), col("b"))).as("v"))
    .groupBy("v").agg(count(lit(1)).as("deg"))

  /** [[triangleCounts]] body over precomputed (und, deg) — shared with
    * [[clusteringCoefficients]] so the caller pays the edge
    * canonicalization shuffle and the degree aggregation ONCE.
    */
  private def triangleCountsFrom(und: DataFrame, deg: DataFrame): DataFrame = {
    // orient low-(deg, id) → high-(deg, id); carry the head's rank key
    // so the wedge join can order the two spokes without re-joining deg
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("w"), col("db").as("dw")))
          .otherwise(
            struct(col("b").as("u"), col("a").as("w"), col("da").as("dw")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"), col("e.dw").as("dw"))
    val wedges = oriented
      .join(oriented.select(col("u"), col("w").as("w2"), col("dw").as("dw2")),
        "u")
      .filter(struct(col("dw"), col("w")) < struct(col("dw2"), col("w2")))
      .select(col("u"), col("w").as("v1"), col("w2").as("v2"))
    val tri = wedges.join(
      oriented.select(col("u").as("v1"), col("w").as("v2")),
      Seq("v1", "v2"))
    tri.select(explode(array(col("u"), col("v1"), col("v2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** k-core peeling: `rounds` synchronous rounds of "drop every node
    * with degree < k" over the undirected, de-duplicated edge list —
    * the dense-core extraction (Seidman 1983) used to separate a web
    * graph's tightly-linked hub from its pendant fringe (and to bound
    * triangle work: the core's degeneracy is what
    * [[triangleCounts]]'s orientation exploits). Returns (node, deg)
    * for every node still on an edge after the last round, with its
    * degree in that surviving subgraph.
    *
    * `rounds` is a FIXED unroll, not a convergence loop: both this
    * implementation and any SQL oracle run exactly the same number of
    * synchronous peels, so results are engine-comparable whether or
    * not the peel has reached its fixpoint (it converges when a round
    * removes nothing; pick rounds ≥ the graph's peel depth for the
    * true k-core — the spec proves the fixpoint on a planted graph).
    *
    * Scale shape: each round is one degree aggregation over the
    * surviving edges plus two semi joins (a-end, b-end) against the
    * kept-node set — no windows, no cartesian; the per-round
    * checkpoint truncates lineage (the [[pageRank]] discipline).
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val cp = Checkpointing.truncator(edges.sparkSession)
    var und = cp.rolling(undirectedEdges(edges))
    for (_ <- 1 to rounds) {
      val keep = undirectedDegrees(und).filter(col("deg") >= k)
      und = cp.rolling(und
        .join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
    }
    undirectedDegrees(und).select(col("v").as("node"), col("deg"))
  }

  /** Local clustering coefficient per node: c(v) = 2·tri(v) /
    * (deg(v)·(deg(v)−1)) over the undirected, de-duplicated edge list
    * — how close each node's neighborhood is to a clique, the
    * link-farm / community-density score layered on top of
    * [[triangleCounts]]. Returns (node, deg, n_tri, coeff) for every
    * node with deg ≥ 2 (coefficient undefined below that); nodes on no
    * triangle get coeff 0.
    *
    * Determinism: deg and tri are exact integers, so the coefficient
    * is one correctly-rounded IEEE division on identical operands.
    * Scale shape: degree is one aggregation over edges; triangles come
    * from the degeneracy-bounded enumeration above; the final join is
    * node-keyed (aggregate-sized, broadcastable).
    */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    val und = undirectedEdges(edges)
    val deg = undirectedDegrees(und)
    deg.select(col("v").as("node"), col("deg")).filter(col("deg") >= 2)
      .join(triangleCountsFrom(und, deg), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        ((coalesce(col("n_tri"), lit(0L)) * 2).cast(DoubleType) /
          (col("deg") * (col("deg") - 1)).cast(DoubleType)).as("coeff"))
  }

  /** Synchronous label-propagation community detection (Raghavan 2007,
    * the deterministic BSP variant): every node starts labeled with its
    * own id; each round, every node simultaneously adopts the label
    * that is most frequent among its neighbors, ties broken toward the
    * SMALLEST label. Returns (node, community) after `rounds` rounds.
    *
    * Determinism: asynchronous/randomized LPA is notoriously
    * order-dependent, so this is the synchronous formulation with a
    * total tie order (max count, then min label) — the same fixed
    * unrolled rounds replay identically on any engine or partitioning
    * (the [[pageRank]]/[[kCore]] discipline; synchronous LPA can
    * oscillate on bipartite structures, which a fixed round count
    * makes reproducible rather than divergent).
    *
    * Scale shape: per round one |E|-row equi-join (labels onto edge
    * sources) and two keyed aggregations — the (node, label) vote
    * count, then a map-side `max(struct(count, -label))` argmax per
    * node. No window over a node's full neighborhood list, no driver
    * state; lineage truncated per round as in [[pageRank]].
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val cp = Checkpointing.truncator(edges.sparkSession)
    val und = undirectedEdges(edges)
    val sym = cp(und.select(col("a").as("u"), col("b").as("v"))
      .union(und.select(col("b").as("u"), col("a").as("v"))))
    var lab = sym.select(col("u").as("n")).distinct()
      .select(col("n"), col("n").as("l"))
    for (i <- 1 to rounds) {
      val votes = sym
        .join(lab.select(col("n").as("u"), col("l")), "u")
        .groupBy(col("v").as("n"), col("l"))
        .agg(count(lit(1)).as("c"))
      // argmax with (count desc, label asc) tie-break as ONE partial
      // aggregate: max over struct(count, -label) — no per-node window
      val next = rollingEvery(cp, i, rounds)(votes.groupBy("n")
        .agg(max(struct(col("c"), (-col("l")).as("nl"))).as("m"))
        .select(col("n"), (-col("m.nl")).cast(LongType).as("l")))
      lab = next
    }
    lab.select(col("n").as("node"), col("l").as("community"))
  }
}
