package graft.ops

import graft.{Declared, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** q63–q64: correlated subqueries and connected components.
  *
  * Connected components is the missing half of every near-dup dedup:
  * pair detection (q25/q39/q41/q42) yields EDGES, but "keep one doc per
  * duplicate set" needs the transitive closure — the component — so
  * that a~b, b~c collapses to one survivor even when a~c was never
  * detected. Component id = min member id, the standard deterministic
  * choice.
  */
object GraphOps {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Both CC fixpoints exit silently when maxIters is exhausted —
    * partially-merged labels with no signal otherwise (ADVICE r3). The
    * convergence probe is probabilistic ((count, xxhash64-sum): a missed
    * change needs a 2⁻⁶⁴-scale hash-sum collision on the same edge
    * count — accepted odds); maxIters exhaustion is the loud case. */
  /** Spec-visible mirror of the warning: slf4j output is not assertable
    * in-suite, so GraphOpsSpec forces maxIters=1 and checks this counter
    * moved — proving the non-convergence exit is loud, not silent. */
  private[graft] val nonConvergenceCount =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def warnIfNotConverged(converged: Boolean, algo: String,
      iters: Int): Unit =
    if (!converged) {
      nonConvergenceCount.incrementAndGet()
      log.warn(
        s"$algo exhausted maxIters=$iters before convergence — " +
          "component labels may be partially merged; raise maxIters")
    }

  /** Both directions of a (src, dst) edge frame from ONE evaluation of
    * the child: an explode over an inline 2-array, not
    * `edges.union(edges.select(swap))` — a union evaluates an
    * unpersisted child once per branch, and for the burst graph that
    * child is an events self-join (the q164 recompute lesson from the
    * round-8 100× probe, where the same pattern cost 4× the LSH join). */
  private def undirect(edges: DataFrame): DataFrame =
    edges.select(explode(array(
      struct(col("src").as("src"), col("dst").as("dst")),
      struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  /** Minimum-label propagation to a fixpoint: every vertex repeatedly
    * takes the min label over itself and its neighbors. Converges in
    * O(component diameter) rounds; each round is one shuffle (edges ⋈
    * labels, groupBy min). At 100 TB-scale graphs the round count is
    * the limiter; the standard fix is the alternating large/small-star
    * algorithm (pointer doubling, O(log n) rounds) — same dataflow per
    * round, so this method is the honest small-diameter version of it.
    *
    * Two scale properties of the loop itself:
    *  - Only EDGE-TOUCHING vertices iterate. In a near-dup graph almost
    *    every document is isolated (its own component); carrying them
    *    through every round would shuffle the whole vertex set per
    *    round for rows that cannot change. Isolated vertices rejoin as
    *    label = own id after the fixpoint, by construction correct.
    *  - Convergence is a single aggregate, not a join: labels only
    *    ever DECREASE, so the label sum (exact decimal — no overflow
    *    at any scale) is strictly monotone until the fixpoint; equal
    *    consecutive sums ⟺ no label changed.
    *
    * `edges` must have columns (src, dst), endpoints ⊆ `vertices.id`;
    * treated as undirected. */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val und = undirect(edges.select(col("src"), col("dst"))).persist()
    // both directions are present, so src alone covers every endpoint
    val connected = und.select(col("src").as("id")).distinct().persist()
    var labels = connected.select(col("id"), col("id").as("label")).persist()
    // null sum ⟺ empty label set (sum over zero rows) — doubles as the
    // emptiness probe, so initialization costs ONE action, not two
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) None else Some(r.getDecimal(0))
    }
    var prevSum = labelSum(labels)
    var converged = prevSum.isEmpty
    var i = 0
    while (!converged && i < maxIters) {
      // neighbor labels: for each edge (src,dst), dst receives src's label
      val nbr = und.join(labels, und("src") === labels("id"))
        .select(col("dst").as("id"), col("label"))
      val next = labels.select(col("id"), col("label")).union(nbr)
        .groupBy("id").agg(min("label").as("label")).persist()
      val nextSum = labelSum(next)
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    und.unpersist()
    warnIfNotConverged(converged, "connectedComponents", maxIters)
    val isolated = vertices.select(col("id"))
      .join(connected, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    labels.union(isolated)
  }

  /** Connected components by ALTERNATING large-star / small-star
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014) — the O(log n)-round algorithm the
    * [[connectedComponents]] doc promises for big-diameter graphs,
    * where min-label propagation's O(diameter) rounds are the limiter
    * (a 10^6-long near-dup chain is 10^6 propagation rounds but ~20
    * star rounds; GraphOpsSpec pins the round-count gap on a chain).
    *
    *  - large-star(u): every neighbor v > u re-attaches to
    *    min(N(u) ∪ u)
    *  - small-star(u): every neighbor v < u (and u itself) attaches to
    *    the minimum such neighbor
    *
    * Each round is two aggregate+join passes over the edge list — no
    * neighborhood ever materializes as a list (hub-safe: the min is an
    * aggregate, re-attachment a join). Edges are localCheckpoint'ed
    * per round: iterative plans otherwise nest O(rounds) deep and
    * planning cost explodes (measured on the epoch pipeline — see
    * CorpusPipeline.epoch).
    *
    * Converges to star graphs: every vertex points at its component's
    * minimum id. Same contract as [[connectedComponents]]; returns
    * (id, label). */
  def connectedComponentsStar(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 30): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    def swap(e: DataFrame) = e.select(col("dst").as("src"),
      col("src").as("dst"))
    def canon(e: DataFrame) = e.filter(col("src") =!= col("dst")).distinct()
    // (count, hash-sum) fixpoint probe in one action
    def sig(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) java.math.BigDecimal.ZERO else r.getDecimal(1))
    }
    // evaluate the (possibly expensive, caller-owned) edge frame ONCE:
    // both derivations below are eagerly checkpointed, so the cache is
    // released before the loop starts
    val e0 = edges.select("src", "dst").persist()
    val connected = e0.select(col("src").as("id"))
      .union(e0.select(col("dst").as("id"))).distinct()
      .pipe(graft.ops.ScaleOps.stageCheckpoint)
    var e = canon(e0).pipe(graft.ops.ScaleOps.stageCheckpoint)
    e0.unpersist()
    var prev = sig(e)
    var converged = prev._1 == 0L
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: und = both directions; v > u re-attaches to
      // m = min(min-neighbor(u), u)
      val und = e.union(swap(e))
      // m(u) = min(N(u) ∪ {u}) — an aggregate + in-row least, never a
      // materialized neighbor list (hub-safe)
      val mnL = und.groupBy(col("src").as("u"))
        .agg(min(col("dst")).as("mnb"))
        .select(col("u"), least(col("mnb"), col("u")).as("m"))
      val large = canon(und.filter(col("dst") > col("src"))
        .join(mnL, col("src") === col("u"))
        .select(col("dst").as("src"), col("m").as("dst")))
        .pipe(graft.ops.ScaleOps.stageCheckpoint)
      // small-star over the large-star output: strictly-smaller
      // neighbors S(u); u and every v ∈ S attach to min(S)
      val undS = large.union(swap(large))
      val sml = undS.filter(col("dst") < col("src"))
      val mnS = sml.groupBy(col("src").as("u")).agg(min(col("dst")).as("m"))
      val next = canon(
        sml.join(mnS, col("src") === col("u"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(mnS.select(col("u").as("src"), col("m").as("dst"))))
        .pipe(graft.ops.ScaleOps.stageCheckpoint)
      val nextSig = sig(next)
      converged = nextSig == prev
      prev = nextSig
      e = next
      i += 1
    }
    warnIfNotConverged(converged, "connectedComponentsStar", maxIters)
    // converged: e is a star set (child → root). Roots and isolated
    // vertices label themselves.
    val children = e.select(col("src").as("id"), col("dst").as("label"))
    val roots = connected.join(children.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    val isolated = vertices.select(col("id"))
      .join(connected, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    children.union(roots).union(isolated)
  }

  /** q63 — correlated aggregate subquery: orders priced above THEIR
    * customer's average order price. Expressed decorrelated (per-key
    * aggregate joined back on the key) — exactly the rewrite Catalyst
    * applies to the correlated SQL form, so the DataFrame shape IS the
    * optimized plan: one extra aggregate + one equi join, no
    * per-row subquery execution. */
  def q63CorrelatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // price > avg compared as price·n > sum in exact decimals: a double
    // avg is accumulation-order-dependent in its last ulp, and a strict
    // comparison at the boundary must not hinge on that
    val perCust = o.groupBy(col("o_custkey").as("ck"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
        count(lit(1)).as("n_ord"))
    o.join(perCust, col("o_custkey") === col("ck"))
      .filter(col("o_totalprice").cast("decimal(18,2)") * col("n_ord")
        > col("sum_price"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  /** q64 — connected components over a deterministic near-in-time event
    * graph: edges join events of the same user ≤ 5 minutes apart
    * (the q14 range-join shape, tighter window); components are bursts
    * of activity. Output: every event with its component id (min
    * event_id in the component) and the component size. Oracle: DuckDB
    * recursive-CTE transitive closure (small components ⇒ closure is
    * cheap for the oracle; the ENGINE never materializes a closure). */
  /** The activity-burst graph shared by q64/q80: one edge per pair of
    * same-user events ≤ 5 minutes apart. Edges are canonical
    * (src < dst), each pair emitted once.
    *
    * The join anchor is COMPOUND — (user_id, 5-minute time bucket) —
    * not user_id alone. Equi-anchoring only on user_id means one bot
    * user with 10⁶ events generates 10¹² candidate rows in a single
    * join partition before the window filter runs. Bucketing time by
    * the window width W bounds each partition by the user's events per
    * 5 minutes instead of per lifetime: a partner with
    * b_us ∈ [a_us, a_us+W] lives in bucket(a) or bucket(a)+1, so the
    * a-side emits both buckets and the b-side its own — every
    * window-satisfying pair matches on exactly ONE compound key (the
    * two emitted buckets are distinct), so no pair is duplicated and
    * none is lost. Result-identical to the plain user_id anchor;
    * GraphOpsSpec plants a 10⁴-event bot and checks the closed-form
    * edge count. */
  private[graft] def burstEdgesFrom(ev: DataFrame): DataFrame = {
    val W = 300000000L // 5-minute window = bucket width, microseconds
    val bkt = expr(s"us div $W") // integer division: exact at any epoch
    val a = ev.select(col("user_id"), col("event_id").as("src"),
      col("us").as("a_us"), explode(array(bkt, bkt + 1)).as("bkt"))
    val b = ev.select(col("user_id"), col("event_id").as("dst"),
      col("us").as("b_us"), bkt.as("bkt"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("src") < col("dst") &&
        col("b_us") >= col("a_us") && col("b_us") - col("a_us") <= W)
      .select("src", "dst")
  }

  private def burstEdges(spark: SparkSession, dir: String): DataFrame =
    burstEdgesFrom(Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us")))

  def q64ConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
    val edges = burstEdges(spark, dir)
    val verts = ev.select(col("event_id").as("id"))
    // the O(log n)-round star algorithm IS the declared implementation
    // (oracle-checked); propagation remains for small-diameter graphs
    // and as the spec's independent cross-check
    val labels = connectedComponentsStar(verts, edges)
    labels.groupBy("label").agg(count(lit(1)).as("component_size"))
      .join(labels, "label")
      .select(col("id").as("event_id"), col("label").as("component_id"),
        col("component_size"))
      .orderBy("event_id")
  }

  /** q80 — degree distribution of the burst graph: how many vertices
    * have k neighbors, INCLUDING isolated vertices (degree 0 — a left
    * join against the vertex set, which a pure edge aggregation would
    * silently drop). Two partial+final aggregates; the edge list is
    * the only large intermediate and it is aggregated immediately. */
  def q80DegreeDist(spark: SparkSession, dir: String): DataFrame = {
    val edges = burstEdges(spark, dir)
    val und = undirect(edges)
    val deg = und.groupBy(col("src").as("event_id"))
      .agg(count(lit(1)).as("degree"))
    Tables.events(spark, dir).select(col("event_id"))
      .join(deg, Seq("event_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_vertices"))
      .orderBy("degree")
  }

  // --------------------------------------------------------------- q181
  /** q181 — label-propagation communities over the burst graph (the
    * CC-family variant SURVEY §7.4d names): CC (q64) answers "which
    * vertices are reachable"; LPA answers "which vertices are DENSELY
    * tied" — the standard cheap community detector (Raghavan et al.
    * 2007) for bot rings / coordinated-posting clusters at corpus
    * scale. Every vertex starts as its own label; each round every
    * vertex adopts the most frequent label among its NEIGHBORS, ties
    * broken by the smallest label — a deterministic rule, unlike the
    * paper's random tie-break, and run SYNCHRONOUSLY for a FIXED 8
    * rounds, so the result is a pure function of the edge set that the
    * DuckDB twin replays exactly (the q179 fixed-cap convention;
    * synchronous LPA can two-cycle on bipartite structure — a fixed
    * even round count pins one phase of the cycle deterministically on
    * both engines). Each round is two vertex-keyed hash aggregates +
    * one edge⋈labels shuffle join — the q178 cadence, labels stay
    * distributed, lineage truncates every 4 rounds. Published: the 20
    * largest communities by (size desc, label). */
  def q181LabelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropagation(burstEdges(spark, dir), rounds = 8)
      .groupBy("lbl").agg(count(lit(1)).as("n_members"))
      .select(col("lbl").as("community"), col("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)

  /** The iteration core of [[q181LabelProp]] on an arbitrary canonical
    * edge frame: (id, lbl) for every edge-touching vertex after
    * `rounds` synchronous most-frequent-neighbor-label updates (ties →
    * min label). Exposed for spec pins on synthetic graphs. */
  private[graft] def labelPropagation(edges0: DataFrame, rounds: Int): DataFrame = {
    // evaluate the (possibly expensive) edge derivation once; the count
    // sizes the per-round partitioning (ScaleOps.adaptiveParts — the
    // q178 r17 finding: a cores-wide layout costs one overhead task per
    // core per round regardless of data volume)
    val cached = edges0.select("src", "dst").distinct().persist()
    val nUnd = 2L * cached.count()
    // persist PRE-PARTITIONED on the per-round join key: the cached
    // InMemoryRelation keeps hashpartitioning(dst), so every round's
    // edge⋈labels join re-shuffles only the vertex-sized labels side,
    // never the edge frame (without this, 8 rounds = 8 edge shuffles —
    // measured 3× slower at sf0.1)
    val und = undirect(cached)
      .repartition(ScaleOps.adaptiveParts(nUnd), col("dst")).persist()
    // vertex-sized frames ride the same adaptive layout (nUnd bounds
    // the vertex count): a cores-wide cached layout costs one overhead
    // task per core per round (the q178 r17 finding)
    val vertexParts = ScaleOps.adaptiveParts(nUnd)
    var labels = und.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
      .coalesce(vertexParts)
    // per-round label cache, released at each eager checkpoint — the
    // q178 recompute fix (see pagerankRanks): without it every round's
    // labels exchange re-executes the chain back to the last checkpoint
    val pinned = scala.collection.mutable.ListBuffer[DataFrame]()
    def releasePinned(): Unit = { pinned.foreach(_.unpersist()); pinned.clear() }
    var i = 0
    while (i < rounds) {
      // neighbor-label multiplicities: for edge (src, dst), dst's label
      // is one vote toward src's next label (und holds both directions).
      // The tie-break is ONE aggregate: max(struct(c, -lbl)) is (max
      // count, then min label) — integer-exact, no second shuffle or
      // self-join over the counts
      var next = und
        .join(labels.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("lbl"))
        .coalesce(vertexParts)
      if ((i + 1) % 4 == 0) {
        next = next.localCheckpoint(true)
        releasePinned()
      } else {
        next = next.persist()
        pinned += next
      }
      labels = next
      i += 1
    }
    // vertex-sized materialization, then release the cached edge frame
    // — hand back an unpersisted result (triangleStats convention)
    val out = labels.localCheckpoint(true)
    releasePinned()
    und.unpersist()
    cached.unpersist()
    out
  }

  /** q181's DuckDB twin: 8 unrolled synchronous rounds. Every CTE is
    * MATERIALIZED — l$k is referenced twice by round k+1 (count + tie
    * filter), and DuckDB's default CTE inlining would expand the final
    * round exponentially (the q179 lesson). */
  private def q181OracleSql: String = {
    val rounds = (1 to 8).map { k =>
      s"""c$k AS MATERIALIZED (SELECT und.src AS id, l.lbl, count(*) AS c
         |  FROM und JOIN l${k - 1} l ON l.id = und.dst
         |  GROUP BY und.src, l.lbl),
         |l$k AS MATERIALIZED (SELECT c.id, min(c.lbl) AS lbl
         |  FROM c$k c JOIN (SELECT id, max(c) AS mc FROM c$k GROUP BY id) m
         |    ON m.id = c.id AND c.c = m.mc
         |  GROUP BY c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |edges AS (
       |  SELECT DISTINCT a.event_id AS src, b.event_id AS dst
       |  FROM ev a JOIN ev b USING (user_id)
       |  WHERE a.event_id < b.event_id
       |    AND b.us >= a.us AND b.us - a.us <= 300000000),
       |und AS MATERIALIZED (SELECT src, dst FROM edges
       |  UNION ALL SELECT dst, src FROM edges),
       |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS lbl FROM und),
       |$rounds
       |SELECT lbl AS community, count(*) AS n_members FROM l8
       |GROUP BY lbl ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  /** q178's DuckDB twin: the 10 iterations unrolled as generated CTEs
    * r1..r10 over the same undirected edge set. */
  private def q178OracleSql: String = {
    val iters = (1 to 10).map { k =>
      s"""r$k AS (SELECT d.id, 0.15 + 0.85 * coalesce(s.x, 0) AS r
         |  FROM deg d LEFT JOIN (
         |    SELECT und.dst AS id, sum(p.r / dg.d) AS x
         |    FROM und JOIN r${k - 1} p ON p.id = und.src
         |             JOIN deg dg ON dg.id = und.src
         |    GROUP BY und.dst) s ON s.id = d.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |edges AS (
       |  SELECT DISTINCT a.event_id AS src, b.event_id AS dst
       |  FROM ev a JOIN ev b USING (user_id)
       |  WHERE a.event_id < b.event_id
       |    AND b.us >= a.us AND b.us - a.us <= 300000000),
       |und AS (SELECT src, dst FROM edges
       |  UNION ALL SELECT dst, src FROM edges),
       |deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY src),
       |r0 AS (SELECT id, 1.0 AS r FROM deg),
       |$iters
       |SELECT id AS event_id, round(r, 6) AS rank FROM r10
       |ORDER BY rank DESC, event_id LIMIT 20""".stripMargin
  }

  // --------------------------------------------------------------- q179
  /** q179 — 3-core of the burst graph by iterative peeling: repeatedly
    * drop vertices with degree < 3 (with their edges) until fixpoint OR
    * a fixed 24-round cap — the cap makes the result a pure function of
    * the input on BOTH engines (the DuckDB twin unrolls exactly 24
    * rounds; if the graph converges earlier, the extra rounds are
    * no-ops, and the spec asserts sf convergence well inside the cap).
    * Each round is one degree aggregate + two semi-joins; rounds
    * checkpoint every 4 (the CC cadence). k-core is the standard
    * dense-region/bot-cluster extractor at corpus scale. */
  def q179KCore(spark: SparkSession, dir: String): DataFrame = {
    // kCoreEdges hands back its final frame already materialized (the
    // loop's convergence count ran on it) and still persisted/
    // checkpointed — re-persisting it here was a no-op that muddied
    // ownership (ADVICE r7); this caller only unpersists
    val core = kCoreEdges(burstEdges(spark, dir), k = 3)
    val nEdges = core.count()
    val nVerts = core.select(col("src").as("id"))
      .union(core.select(col("dst").as("id"))).distinct().count()
    core.unpersist()
    import spark.implicits._
    Seq((nVerts, nEdges)).toDF("n_core_vertices", "n_core_edges")
  }

  /** The peeling core of [[q179KCore]] on an arbitrary canonical edge
    * frame: surviving edges after iterating to fixpoint or `maxRounds`,
    * whichever first. Exposed for spec checks on synthetic graphs.
    * Ownership: the returned frame is already materialized (the final
    * convergence count ran on it) and still persisted (or localCheck-
    * pointed on a %4 round) — the CALLER unpersists it when done; do
    * not persist it again. */
  private[graft] def kCoreEdges(edges0: DataFrame, k: Int,
      maxRounds: Int = 24): DataFrame = {
    var edges = edges0.select("src", "dst").distinct().persist()
    var prev = -1L
    var cur = edges.count()
    var round = 0
    while (cur != prev && round < maxRounds) {
      val deg = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select("id")
      var next = edges
        .join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
      if ((round + 1) % 4 == 0) next = next.localCheckpoint(true)
      else next = next.persist()
      prev = cur
      cur = next.count()
      edges.unpersist()
      edges = next
      round += 1
    }
    edges
  }

  /** q179's DuckDB twin: 24 unrolled peel rounds (e0..e24). Every CTE
    * is MATERIALIZED — each round references its predecessor three
    * times, and DuckDB's default CTE inlining would otherwise expand
    * e24 into ~3²⁴ copies of the scan. */
  private def q179OracleSql: String = {
    val rounds = (1 to 24).map { r =>
      s"""s$r AS MATERIALIZED (SELECT id FROM (
         |    SELECT id, count(*) AS d FROM (
         |      SELECT src AS id FROM e${r - 1}
         |      UNION ALL SELECT dst FROM e${r - 1}) GROUP BY id)
         |  WHERE d >= 3),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN s$r a ON a.id = e.src JOIN s$r b ON b.id = e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.event_id AS src, b.event_id AS dst
       |  FROM ev a JOIN ev b USING (user_id)
       |  WHERE a.event_id < b.event_id
       |    AND b.us >= a.us AND b.us - a.us <= 300000000),
       |$rounds
       |SELECT
       |  (SELECT CAST(count(DISTINCT id) AS BIGINT) FROM (
       |     SELECT src AS id FROM e24 UNION ALL SELECT dst FROM e24))
       |    AS n_core_vertices,
       |  (SELECT CAST(count(*) AS BIGINT) FROM e24) AS n_core_edges""".stripMargin
  }

  // --------------------------------------------------------------- q180
  /** q180 — degree assortativity: Pearson correlation of endpoint
    * degrees over the directed-both-ways edge list (the standard
    * undirected formulation). Every moment is an EXACT integer sum in
    * decimal; the correlation composes in double only at the end, with
    * an expression shape kept textually identical to the oracle's so
    * both engines execute the same correctly-rounded op sequence
    * (round 6 published — the q26/q178 convention). */
  def q180Assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(burstEdges(spark, dir))

  /** The moment computation of [[q180Assortativity]] on an arbitrary
    * canonical edge frame (spec: a star graph is exactly −1). */
  private[graft] def assortativityOf(edges0: DataFrame): DataFrame = {
    val edges = edges0.select("src", "dst").distinct()
    val und = undirect(edges).persist()
    val deg = und.groupBy("src").agg(count(lit(1)).as("d"))
      .select(col("src").as("id"), col("d"))
    val ends = und
      .join(deg.select(col("id").as("src"), col("d").as("dx")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dy")), "dst")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val m = ends.agg(
      count(lit(1)).as("m"),
      sum(dec(col("dx"))).as("sx"), sum(dec(col("dy"))).as("sy"),
      sum(dec(col("dx")) * dec(col("dy"))).as("sxy"),
      sum(dec(col("dx")) * dec(col("dx"))).as("sxx"),
      sum(dec(col("dy")) * dec(col("dy"))).as("syy"))
    // a regular graph has zero degree variance → correlation undefined:
    // publish NULL (identical guard in the oracle; ANSI mode would
    // otherwise throw DIVIDE_BY_ZERO — hit live on the sf0.001 graph)
    val num = col("m").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val den = sqrt(col("m").cast("double") * col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double")) *
      sqrt(col("m").cast("double") * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double"))
    m.select(col("m").as("n_edge_ends"),
      round(when(den =!= 0.0, num / den), 6).as("assortativity"))
  }

  // --------------------------------------------------------------- q178
  /** q178 — PageRank (damping 0.85, 10 fixed iterations) over the
    * undirected burst graph, on edge-touching vertices. Ranks stay
    * DISTRIBUTED (vertex-sized — never a driver model, unlike
    * kmeans/BPE/LR whose state is model-sized): each iteration is one
    * edges⋈ranks shuffle + a dst aggregate, the canonical iterative-join
    * cadence, with lineage truncated every 4 rounds. Published ranks are
    * rounded to 6 decimals (q26's convention) — per-iteration IEEE sums
    * differ across engines at ~1e-14, far below the rounding grain, so
    * the unrolled DuckDB twin hash-matches. Top-20 ordered by
    * (rounded rank desc, id) so the cut itself is rounding-stable. */
  def q178PageRank(spark: SparkSession, dir: String): DataFrame =
    pagerankRanks(burstEdges(spark, dir), iters = 10)
      .select(col("id").as("event_id"), round(col("r"), 6).as("rank"))
      .orderBy(col("rank").desc, col("event_id"))
      .limit(20)

  /** The iteration core of [[q178PageRank]] on an arbitrary canonical
    * (src, dst) edge frame: returns (id, r) unrounded for every
    * edge-touching vertex. Exposed for spec closed-form checks. */
  private[graft] def pagerankRanks(edges0: DataFrame, iters: Int): DataFrame = {
    // persist the canonical edge frame: und is referenced by BOTH deg
    // and wed below, and without the cache each reference re-evaluates
    // the caller's (events-self-join-sized) edge derivation.
    // The count both materializes the cache and sizes the ROUND
    // partitioning (ScaleOps.adaptiveParts, guide §2): every iteration
    // re-scans wed/ids/ranks, and at a cores-wide layout each round
    // paid one task of pure overhead per core regardless of data
    // (measured r17 — 2–4 executor-CPU-s per round-stage on 771 edges
    // at 32 tasks vs ~0.05 at 4; 10 rounds made that the whole query).
    val cached = edges0.select("src", "dst").distinct().persist()
    val nE = cached.count()
    val edges = ScaleOps.coalesceAdaptive(cached, nE)
    val edgeParts = ScaleOps.adaptiveParts(2L * nE)
    val und = undirect(edges)
    val deg = und.groupBy("src").agg(count(lit(1)).as("d"))
      .select(col("src").as("id"), col("d"))
    // und ⋈ deg is loop-invariant: join it ONCE and persist the
    // (src, dst, d) frame, so each iteration is one join with ranks +
    // one aggregate instead of two edge-sized joins (VERDICT r7 §wrong
    // #2). The summed term stays r/d — one correctly-rounded division
    // per edge, the exact expression the unrolled DuckDB twin replays;
    // a 1/d weight would double-round and perturb last-ulp sums.
    // Both loop-invariant caches — and every per-round frame below —
    // are laid out at the adaptive partition count: a frame cached at
    // the cores-wide shuffle layout re-imposes one overhead task per
    // core on EVERY round that scans it (the r17 finding; cached plans
    // pin their layout, AQE cannot re-coalesce them).
    val wed = und.join(deg.select(col("id").as("src"), col("d")), "src")
      .coalesce(edgeParts).persist()
    val idsCached = deg.select(col("id")).persist()
    val nV = idsCached.count()
    val vertexParts = ScaleOps.adaptiveParts(nV)
    val ids = ScaleOps.coalesceAdaptive(idsCached, nV)
    var ranks = ids.select(col("id"), lit(1.0).as("r"))
    // every round's ranks frame is persisted (vertex-sized): the %4
    // checkpoint otherwise executes a 4-round-deep plan whose repeated
    // ranks subtrees only stay deduplicated as long as ReuseExchange
    // recognizes them — the cache makes the once-per-round execution
    // explicit instead of plan-shape-dependent. Caches are released as
    // soon as an EAGER materialization (the %4 localCheckpoint, or the
    // final one) has baked their values in.
    val pinned = scala.collection.mutable.ListBuffer[DataFrame]()
    def releasePinned(): Unit = { pinned.foreach(_.unpersist()); pinned.clear() }
    var i = 0
    while (i < iters) {
      val contrib = wed
        .join(ranks.select(col("id").as("src"), col("r")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("r") / col("d")).as("x"))
      var next = ids
        .join(contrib, Seq("id"), "left")
        .select(col("id"), (lit(0.15) + lit(0.85) * coalesce(col("x"),
          lit(0.0))).as("r"))
        .coalesce(vertexParts)
      // truncate lineage every 4 rounds (eager) and release the block's
      // caches — their values are in the checkpoint now
      if ((i + 1) % 4 == 0) {
        next = next.localCheckpoint(true)
        releasePinned()
      } else {
        next = next.persist()
        pinned += next
      }
      ranks = next
      i += 1
    }
    // materialize (vertex-sized) before releasing the cached frames the
    // tail lineage still references, then hand back an unpersisted
    // result — callers own nothing (triangleStats convention)
    val out = ranks.localCheckpoint(true)
    releasePinned()
    wed.unpersist()
    idsCached.unpersist()
    cached.unpersist()
    out
  }

  // --------------------------------------------------------------- q177
  /** q177 — exact triangle count on the burst graph, with the
    * degree-ordered orientation that makes it scale: direct every edge
    * from the (degree, id)-smaller endpoint to the larger, so each
    * vertex's OUT-degree is O(√E) and the wedge self-join (the classic
    * blowup) enumerates C(out-deg, 2) pairs per vertex instead of
    * C(deg, 2) — the standard compact-forward bound. A wedge (u→x, u→y)
    * closes iff the oriented edge (x→y) exists (orientation is a total
    * order, so the closing edge has exactly one canonical direction);
    * the final count is one semi-join. Everything is exact integers —
    * the DuckDB oracle replays it as a plain 3-way join (no orientation
    * needed at sf; same count by symmetry). */
  def q177Triangles(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val (nVerts, nEdges, nTri) =
      triangleStats(burstEdges(spark, dir))
    Seq((nVerts, nEdges, nTri))
      .toDF("n_vertices", "n_edges", "n_triangles")
  }

  /** The oriented-wedge core of [[q177Triangles]] on an arbitrary
    * (src, dst) canonical edge frame (duplicates tolerated — deduped
    * here). Exposed for spec cross-checks on synthetic graphs. */
  private[graft] def triangleStats(edges0: DataFrame): (Long, Long, Long) = {
    val edges = edges0.select("src", "dst").distinct().persist()
    val deg = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = edges
      .join(deg.select(col("id").as("src"), col("d").as("da")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("db")), "dst")
    val fwd = col("da") < col("db") ||
      (col("da") === col("db") && col("src") < col("dst"))
    val oriented = withDeg.select(
      when(fwd, col("src")).otherwise(col("dst")).as("u"),
      when(fwd, col("dst")).otherwise(col("src")).as("v"),
      when(fwd, col("db")).otherwise(col("da")).as("dv")).persist()
    val o1 = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
    val o2 = oriented.select(col("u"), col("v").as("y"), col("dv").as("dy"))
    val wedges = o1.join(o2, Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("u"), col("y").as("v"))
    val nTri = wedges.join(oriented.select("u", "v"), Seq("u", "v"),
      "left_semi").count()
    val nEdges = edges.count()
    val nVerts = deg.count()
    edges.unpersist()
    oriented.unpersist()
    (nVerts, nEdges, nTri)
  }

  val declared: Seq[Declared] = Seq(
    Declared("q63_correlated_subquery", q63CorrelatedSubquery, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(18,2))
        |      * (SELECT count(*) FROM orders o2
        |         WHERE o2.o_custkey = o.o_custkey)
        |    > (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),
    Declared("q64_connected_components", q64ConnectedComponents, Some(
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |edges AS (
        |  SELECT a.event_id AS src, b.event_id AS dst
        |  FROM ev a JOIN ev b USING (user_id)
        |  WHERE a.event_id < b.event_id
        |    AND b.us >= a.us AND b.us - a.us <= 300000000),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION SELECT dst, src FROM edges),
        |reach AS (
        |  SELECT event_id AS id, event_id AS r FROM ev
        |  UNION
        |  SELECT reach.id, und.dst AS r
        |  FROM reach JOIN und ON reach.r = und.src),
        |labels AS (
        |  SELECT id, min(r) AS component_id FROM reach GROUP BY id),
        |sizes AS (
        |  SELECT component_id, count(*) AS component_size
        |  FROM labels GROUP BY component_id)
        |SELECT labels.id AS event_id, labels.component_id,
        |       sizes.component_size
        |FROM labels JOIN sizes USING (component_id)
        |ORDER BY event_id""".stripMargin)),
    Declared("q80_degree_dist", q80DegreeDist, Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |edges AS (
        |  SELECT a.event_id AS src, b.event_id AS dst
        |  FROM ev a JOIN ev b USING (user_id)
        |  WHERE a.event_id < b.event_id
        |    AND b.us >= a.us AND b.us - a.us <= 300000000),
        |und AS (
        |  SELECT src, dst FROM edges
        |  UNION ALL SELECT dst, src FROM edges),
        |deg AS (
        |  SELECT src AS event_id, count(*) AS degree FROM und GROUP BY 1)
        |SELECT coalesce(deg.degree, 0) AS degree,
        |       count(*) AS n_vertices
        |FROM ev LEFT JOIN deg USING (event_id)
        |GROUP BY 1 ORDER BY degree""".stripMargin)),
    // plain id-canonical 3-way join — no orientation needed at sf; the
    // engine path's degree-ordered wedge count is the same number
    Declared("q177_triangles", q177Triangles, Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |edges AS (
        |  SELECT DISTINCT a.event_id AS src, b.event_id AS dst
        |  FROM ev a JOIN ev b USING (user_id)
        |  WHERE a.event_id < b.event_id
        |    AND b.us >= a.us AND b.us - a.us <= 300000000),
        |verts AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
        |tri AS (SELECT count(*) AS n FROM edges e1
        |  JOIN edges e2 ON e2.src = e1.src AND e2.dst > e1.dst
        |  JOIN edges e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM verts) AS n_vertices,
        |       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
        |       (SELECT CAST(n AS BIGINT) FROM tri) AS n_triangles""".stripMargin)),
    Declared("q178_pagerank", q178PageRank, Some(q178OracleSql)),
    Declared("q179_kcore", q179KCore, Some(q179OracleSql)),
    // identical double expression shape on both engines over exact
    // integer moments (see q180 doc)
    Declared("q180_assortativity", q180Assortativity, Some(
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |edges AS (
        |  SELECT DISTINCT a.event_id AS src, b.event_id AS dst
        |  FROM ev a JOIN ev b USING (user_id)
        |  WHERE a.event_id < b.event_id
        |    AND b.us >= a.us AND b.us - a.us <= 300000000),
        |und AS (SELECT src, dst FROM edges
        |  UNION ALL SELECT dst, src FROM edges),
        |deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY src),
        |ends AS (SELECT dx.d AS dx, dy.d AS dy
        |  FROM und JOIN deg dx ON dx.id = und.src
        |           JOIN deg dy ON dy.id = und.dst),
        |mo AS (SELECT CAST(count(*) AS BIGINT) AS m,
        |    sum(CAST(dx AS HUGEINT)) AS sx, sum(CAST(dy AS HUGEINT)) AS sy,
        |    sum(CAST(dx AS HUGEINT) * CAST(dy AS HUGEINT)) AS sxy,
        |    sum(CAST(dx AS HUGEINT) * CAST(dx AS HUGEINT)) AS sxx,
        |    sum(CAST(dy AS HUGEINT) * CAST(dy AS HUGEINT)) AS syy
        |  FROM ends),
        |nd AS (SELECT m,
        |    CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
        |    sqrt(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |    sqrt(CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
        |  FROM mo)
        |SELECT m AS n_edge_ends,
        |  round(CASE WHEN den <> 0 THEN num / den END, 6) AS assortativity
        |FROM nd""".stripMargin)),
    Declared("q181_label_prop", q181LabelProp, Some(q181OracleSql)))
}
