package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._

/** Synchronous semi-supervised / unsupervised label propagation as an
  * iterative Dataset pipeline.
  *
  * Semantics are the reference's canonical LP kernel
  * (`lpst/src/lib.rs:177-221` `run_lp_csr`, `ow-lp/src/lib.rs:501-630`),
  * differentially tested against a direct transcription
  * ([[graft.oracle.SerialOracles.labelPropagation]]):
  *
  *  - message direction: each node gathers the labels of its
  *    **out-neighbours** (dst labels flow to src — GraphX `sendToSrc`,
  *    `labelpropagation_graphx_shell.scala:108-116`)
  *  - new label = most frequent neighbour label, ties → smallest label,
  *    no labelled neighbour → keep current (`ow-lp/src/lib.rs:456-481`)
  *  - duplicate edges weight the vote (multiplicity preserved via a
  *    pre-aggregated weight column, mathematically identical)
  *  - seeds are min-deduped per node and pinned forever
  *    (`ow-lp/src/lib.rs:224-235,576-579`)
  *  - zero seeds globally → unsupervised mode, label(i) = i, no pinning
  *    (`ow-lp/src/lib.rs:538-546`)
  *  - stop when changed ≤ threshold (default 0) or maxIter (default 50)
  *
  * Physical plan per superstep (2 exchanges on the state, none on the
  * pre-partitioned edges, zero sorts):
  *   gather  = packedEdges ⋈ labels on dst          (Superstep.EdgeSide:
  *             labels shuffled to the persisted edge partitioning and
  *             hash-joined, or salted across hub partitions; vote levels
  *             are salt-compatible since label counts are associative)
  *   vote    = repartition(src) → groupBy(src, label).sum(w)
  *             → groupBy(src).max((cnt<<32)|(2^32-1-label)) — both agg
  *             levels chained codegen HashAggregates in one post-shuffle
  *             stage (the packed-long argmax replaces max(struct(...)),
  *             whose struct buffer forced a SortAggregate; struct fallback
  *             when labels exceed u32 or counts exceed 31 bits); when every
  *             multiplicity is 1 (deduplicated edge table) the w column is
  *             dropped from the exchange and sum(w) becomes count(*) —
  *             bit-identical votes, ~25% narrower shuffle rows; when src
  *             ids AND labels both fit u32 the exchange row packs further
  *             into ONE long pk=(src<<32)|label (16 B vs 24 B UnsafeRow)
  *             with the plan still single-exchange (see packExchange)
  *   apply   = state ⟗ votes on id (shuffled-hash, votes build), seeded
  *             rows keep their label, changed flag folded into the same
  *             projection (no extra action).
  */
object LabelPropagation {

  final case class LpResult(
      labels: Dataset[VertexLabel],
      iterations: Int,
      converged: Boolean,
      stats: List[Superstep.IterStats],
      edgeCount: Long,
      // frees only the columnar cache of `labels`; `run` freed the rest
      release: () => Unit = () => ())

  /** Run LP over a directed edge table. `seeds` may be empty → unsupervised.
    *
    * `numNodes`: optional declared vertex-universe size (the TSV/CLI
    * `num_nodes` argument of the reference). When set, unsupervised init
    * covers every id in [0, numNodes) — including isolated vertices with no
    * edges, which keep label = id forever, exactly like `init_labels`
    * (`lpst/src/lib.rs:158-172`). When absent, the vertex set is derived
    * from edge endpoints (isolated ids cannot be known).
    */
  def run(
      edges: Dataset[Edge],
      seeds: Dataset[Seed],
      cfg: RunConfig = RunConfig(),
      numNodes: Option[Long] = None): LpResult = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Under a declared universe the reference TOLERATES out-of-range srcs
    // and seeds: build_csr_from_edges silently skips edges with src >= n
    // (lpst/src/lib.rs:49-71) and init_labels silently skips seeds with
    // node >= n (lib.rs:158-172) — matched here so the driver contract is
    // identical. dst >= n is NOT tolerated: see the guard at init below.
    val boundedEdges = numNodes match {
      case Some(n) => edges.filter($"src" < n)
      case None => edges
    }

    // adjacency at rest: duplicate edges collapsed to a weight; one job
    // counts the distinct pairs and observes Σw, the src bounds and max dst
    val packedRaw = boundedEdges.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
    val (gates, pairRows) = GraftSqlShim.runJob(packedRaw.observe("edge_gates",
      coalesce(sum($"w"), lit(0L)),
      coalesce(min($"src"), lit(0L)),
      coalesce(max($"src"), lit(0L)),
      coalesce(max($"dst"), lit(-1L))))
    val eAgg = gates("edge_gates")
    val edgeCount = eAgg.getLong(0)
    val (srcMin, srcMax) = (eAgg.getLong(1), eAgg.getLong(2))
    // fail fast on out-of-range DESTINATIONS only (srcs/seeds >= n were
    // silently dropped above, matching the reference): the reference
    // stores any dst in the CSR and its gather indexes labels[dst] — dst
    // >= n panics there (lib.rs:200-204); here the dense range(n) state +
    // left-outer apply would swallow those votes silently, so the panic
    // rides the setup aggregation, before the edge side is placed.
    numNodes.foreach(n => require(eAgg.getLong(3) < n,
      s"numNodes=$n but an edge destination references out-of-range id " +
      s"${eAgg.getLong(3)} — the reference panics on gather for dst >= num_nodes"))
    // Near-unit multiplicities (Σw ≤ 1.01·rows — the common case: a
    // deduplicated or near-deduplicated edge table; the reference's random
    // generator leaves only birthday-collision duplicates, ~50 in 40M) let
    // the adjacency keep those rare duplicates as the raw edge ROWS they
    // are and drop the w column everywhere: the vote's sum(w) becomes
    // count(*) over multiplicity-many rows — identical integer votes. That
    // narrows the ONE per-superstep exchange (the raw vote rows — map-side
    // combine cannot compress them: at degree d over p shuffle partitions
    // a given (src,label) pair appears ~d/p ≤ 1 times per map task) from
    // (src,label,w) to (src,label) — 24 vs 32 bytes of unsafe-row payload,
    // ~25% less shuffle write+read DRAM traffic on the loop's hot path,
    // plus a narrower cached adjacency, placed without a grouping shuffle.
    val pairs = pairRows.sum
    val unitW = edgeCount <= pairs + pairs / 100
    val adjacency = if (unitW) boundedEdges.select($"src", $"dst") else packedRaw
    // without a declared universe, one pass over the endpoints and the
    // seeded (possibly isolated) nodes gives the vertex set, its size and
    // its bounds
    val pass = numNodes match {
      case Some(_) => None
      case None => Some(Superstep.vertexSet(edges, seeds.select($"node".as("id"))))
    }
    // partitioned by dst once so every gather join reuses the same exchange
    val side = Superstep.edgeSide(adjacency, "dst", cfg, numNodes.getOrElse(pass.get.count))

    // one job counts the deduped seeds and observes in-range label bounds
    val inRange = numNodes.fold(lit(true))(n => $"node" < n)
    val seedFill = Superstep.fill(graft.io.EdgeTsv.dedupSeeds(seeds),
      coalesce(min(when(inRange, $"label")), lit(0L)),
      coalesce(max(when(inRange, $"label")), lit(0L)))
    // unsupervised ⇔ the RAW seed map is empty (lib.rs:160 checks
    // is_empty() BEFORE any range filtering): seeds that are all
    // out-of-range leave a seeded run with zero effective seeds — every
    // label stays UNKNOWN — they do not flip the run to unsupervised.
    val unsupervised = seedFill.rows == 0L
    val dedupedSeeds = seedFill.ds.filter(inRange)

    // DENSE state: one row per vertex from the start, null label = UNKNOWN.
    // This keeps the apply join LEFT-outer (state side streams, its `id`
    // and partitioning survive to the next superstep) — a full-outer join
    // on a grow-as-labeled sparse state reports UnknownPartitioning (its
    // id is coalesce(l,r)), which forced TWO state re-exchanges per
    // superstep (observed as 5-stage superstep jobs vs PR's 3).
    val vertices = numNodes match {
      // declared universe covers isolated ids too (lpst init_labels)
      case Some(n) => spark.range(n).toDF("id")
      case None => pass.get.ids
    }
    val init: DataFrame =
      if (unsupervised) {
        // label(i) = i for every vertex (ow-lp/src/lib.rs:538-546);
        // aggregated, not projected as `id AS label` (see Superstep.loop
        // on aliases)
        vertices.groupBy($"id").agg(min($"id").as("label"))
          .select($"id", $"label", lit(false).as("seeded"), lit(true).as("_chg"))
      } else {
        vertices.join(dedupedSeeds, $"id" === $"node", "left_outer")
          .select($"id", $"label", $"label".isNotNull.as("seeded"), lit(true).as("_chg"))
      }

    // LP only ever propagates labels that exist in the INITIAL state, so the
    // label domain is fixed at setup: unsupervised = the vertex-id range,
    // seeded = the (tiny, filled) seed label set. When every label fits
    // in an unsigned 32-bit lane and every possible vote count fits in 31
    // bits (cnt ≤ Σw = edgeCount), the vote's argmax packs into ONE long —
    // (cnt << 32) | (2^32-1-label) — whose max() hash-aggregates: the
    // max(struct(cnt,-label)) form has an immutable struct buffer, which
    // HashAggregate cannot hold, so Spark silently planned a SortAggregate
    // that re-SORTED the per-partition vote stream every superstep (caught
    // in the r5 plan audit together with the SMJ degradation — see
    // Superstep.shj). Identical integer argmax → bit-identical labels.
    val labelBounds: (Long, Long) =
      if (unsupervised) numNodes match {
        case Some(n) => (0L, n - 1)
        case None => pass.get.bounds.getOrElse((0L, 0L))
      } else (seedFill.summary.getLong(0), seedFill.summary.getLong(1))
    val packedVote = labelBounds._1 >= 0L && labelBounds._2 < (1L << 32) &&
      edgeCount < (1L << 31)
    // Packed EXCHANGE row (r5): when both the voting src ids and the label
    // domain fit unsigned 32-bit lanes, the gather output ships ONE long
    // pk = (src<<32)|label instead of the (src,label) pair — a 16-byte
    // UnsafeRow instead of 24 bytes on the loop's only per-superstep
    // exchange, whose write+read DRAM traffic is LP's measured scaling
    // bottleneck at full core occupancy (BENCH.md §11b: the vote exchange
    // is the largest per-superstep DRAM consumer). Repartitioning by
    // `shiftrightunsigned(pk,32)` and projecting that same expression back out as
    // `src` lets alias-aware output partitioning rewrite the exchange's
    // HashPartitioning(shiftrightunsigned(pk,32)) to HashPartitioning(src), so
    // both vote aggregation levels AND the apply join stay exchange-free
    // (plan-verified, BENCH.md §16 — identical exchange count, all four
    // HashAggregates + the apply SHJ in one post-shuffle codegen stage).
    // Murmur3 of shiftrightunsigned(pk,32) equals Murmur3 of src value-wise,
    // so co-partitioning with the cached state holds numerically too.
    // Applies to BOTH vote shapes: the unit-multiplicity row packs to just
    // (pk) — 16 vs 24 B — and the weighted row (multiplicity-heavy
    // tables) to (pk, w) — 24 vs 32 B.
    val packExchange = packedVote && srcMin >= 0L && srcMax < (1L << 32)

    def step(state: DataFrame): DataFrame = {
      // P6 UNKNOWN filter: unlabeled vertices contribute nothing
      val labels = state.filter($"label".isNotNull).select($"id", $"label")
      val joined = side.gather(labels)
      // unit multiplicities ⇒ w is constant 1: keep it out of the exchange
      val gather =
        if (unitW) joined.select($"src", $"label")
        else joined.select($"src", $"label", $"w")
      // single-exchange majority, fully codegen: repartition the gather
      // output by src once, then BOTH aggregation levels (label counts,
      // then max(count, min-label tiebreak)) run in the same post-shuffle
      // stage as chained codegen HashAggregates — hash(src) already
      // clusters (src, label). An earlier TypedImperativeAggregate (a
      // `majority_vote` UDAF) planned as ObjectHashAggregate, which falls
      // back to SORT-based aggregation beyond 128 groups per partition
      // (spark.sql.objectHashAggregate.sortBased.fallbackThreshold) —
      // at 4M vertices that sorted all 40M gather rows every superstep,
      // ~20× the task time of this plan.
      val counted =
        if (packExchange) {
          // packed exchange row: pk = (src<<32)|label (label < 2^32 so +
          // is bitwise OR), plus w on the weighted shape; the repartition
          // expression and the projected src are the SAME tree, which is
          // what keeps the downstream plan exchange-free — see the
          // packExchange gate's comment
          val pk = (shiftleft($"src", 32) + $"label").as("pk")
          val packed =
            (if (unitW) gather.select(pk) else gather.select(pk, $"w"))
              .repartition(shiftrightunsigned($"pk", 32))
          val unpacked = Seq(
            shiftrightunsigned($"pk", 32).as("src"),
            $"pk".bitwiseAND(lit((1L << 32) - 1)).as("label")) ++
            (if (unitW) Nil else Seq($"w"))
          packed.select(unpacked: _*)
            .groupBy($"src", $"label")
            .agg((if (unitW) count(lit(1)) else sum($"w")).as("cnt"))
        } else gather
          .repartition($"src")
          .groupBy($"src", $"label")
          .agg((if (unitW) count(lit(1)) else sum($"w")).as("cnt"))
      val votes =
        if (packedVote)
          // hash-aggregable single-long argmax: bigger cnt wins, ties break
          // to the SMALLER label (2^32-1-label is larger for smaller label)
          counted.groupBy($"src")
            .agg(max(shiftleft($"cnt", 32) +
              (lit((1L << 32) - 1) - $"label")).as("m"))
            .select($"src".as("id"),
              (lit((1L << 32) - 1) - $"m".bitwiseAND(lit((1L << 32) - 1)))
                .as("vote"))
        else
          counted.groupBy($"src")
            .agg(max(struct($"cnt", (-$"label").as("neg"))).as("m"))
            .select($"src".as("id"), (-$"m.neg").as("vote"))
      // plain column names, no `state.as(...)` alias: the aliased state's
      // self-join copy kept a stale hashpartitioning(id), which re-exchanged
      // the state every superstep (three stages instead of gather + apply)
      val label = when($"seeded" === true, $"label")
        .otherwise(coalesce($"vote", $"label"))
      state.join(Superstep.shj(votes), Seq("id"), "left_outer")
        .select(
          $"id",
          label.as("label"),
          $"seeded",
          // changed ⇔ new label differs from previous (UNKNOWN = null never
          // equals a real label; labels are ≥ 0 so -1 is a safe sentinel)
          (coalesce(label, lit(-1L)) =!= coalesce($"label", lit(-1L))).as("_chg"))
    }

    // input identity for checkpoint manifests: adjacency ⊕ seeds.
    // Fingerprint the logical multigraph (src,dst,w): under the near-unit
    // shape the w column is re-derived by re-grouping — duplicate ROWS
    // must never reach the XOR-fold (identical rows cancel pairwise, see
    // fingerprint64's caveat), and re-grouping keeps the fingerprint equal
    // to the weighted representation's, so manifests stay interchangeable
    def inputFp: Long = {
      val edgeRows =
        if (unitW) side.edges.groupBy($"src", $"dst").agg(count(lit(1)).as("w"))
        else side.edges
      Superstep.fingerprint64(edgeRows) ^ Superstep.fingerprint64(dedupedSeeds.toDF())
    }
    val res = try Superstep.loop(init, Some(side), step, cfg, algo = "lp", inputFp)
      finally {
        seedFill.release()
        pass.foreach(_.release())
      }

    val labels = try Superstep.fill(res.state.filter($"label".isNotNull)
        .select($"id", $"label").as[VertexLabel])
      finally res.release()
    LpResult(labels.ds, res.iterations, res.converged, res.stats, edgeCount,
      release = () => labels.release())
  }

  /** Label histogram report (`ow-lp/src/lib.rs:336-356`): 20 smallest-id
    * distinct labels with occurrence counts.
    */
  def labelHistogram(labels: Dataset[VertexLabel]): DataFrame = {
    val spark = labels.sparkSession
    import spark.implicits._
    labels.groupBy($"label").agg(count(lit(1)).as("cnt"))
      .orderBy($"label").limit(20)
  }
}
