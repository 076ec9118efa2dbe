package graft

import org.apache.spark.sql.catalyst.expressions.aggregate.{CollectList, CollectSet}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{CollectLimitExec, FilterExec, GlobalLimitExec, InputAdapter, LocalTableScanExec, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, UnionExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Registry-wide plan screen: every batch query in `SparkEntry.queries`
  * is planned against the sf0.001 fixture and swept for the three plan
  * shapes that kill a 100-TB run no matter how correct the output is —
  * an unbroadcast pair scan (CartesianProduct), a nested-loop join whose
  * broadcast side is not provably tiny, and a window that funnels the
  * whole dataset through one partition. PlanSpec pins these properties
  * for individual headline queries; this sweep makes them a REGISTRY
  * invariant, so the screen runs automatically on every future q-row
  * instead of relying on its author to remember a bespoke spec.
  *
  * Harness-bound gates (`Bench.harnessBound`) are excluded: their
  * entries EXECUTE streaming fixtures on construction (foreachBatch,
  * checkpoint replay), so "plan the DataFrame" is not a cheap operation
  * there, and their stateful plans live under micro-batch planning
  * anyway; the streaming specs own those contracts.
  *
  * AQE is disabled for the sweep only: with adaptive planning on, the
  * executed plan hides inside AdaptiveSparkPlanExec stages and
  * `SparkPlan.collect` cannot traverse it; the static plan is exactly
  * what the sweep wants, since AQE can only IMPROVE on it at runtime
  * (and a plan that is safe pre-AQE stays safe).
  */
class RegistrySweepSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** A nested-loop join is acceptable only when the broadcast side is
    * bounded by construction: a zero-key aggregate (exactly one row —
    * the `crossJoin(broadcast(df.agg(...)))` scalar-fanout idiom used
    * for corpus totals), an explicit limit/top-k (fixed k rows), or a
    * driver-materialized LocalTableScan (the k-centroid / codebook
    * frames Lloyd training collects — their size is bounded by the
    * collect that built them, which the no-data-sized-collect audit
    * owns, not this sweep).
    *
    * The certificate is ROOT-ANCHORED (r08 ADVICE): the bounding node
    * must sit at the top of the build subtree, reached only through
    * wrappers that cannot GROW a row count — exchanges, codegen shells,
    * projections, filters, sorts, aggregates, unions-of-bounded. The
    * previous form certified the build if a bounding node appeared
    * ANYWHERE in the subtree (`p.collect`), so a corpus-sized build
    * like `bigTable.join(small.limit(5))` — or any folded
    * LocalTableScan deep in the tree — passed as "provably bounded":
    * exactly the unbounded-broadcast shape the screen exists to catch.
    * Joins, generates, and scans are NOT pass-through (their output can
    * exceed any child's row count), so a build containing them
    * certifies only via a bounding node ABOVE them.
    */
  private def boundedRoot(p: SparkPlan, extraHead: SparkPlan => Boolean): Boolean = p match {
    case q if extraHead(q) => true
    case a: HashAggregateExec if a.groupingExpressions.isEmpty => true
    case a: ObjectHashAggregateExec if a.groupingExpressions.isEmpty => true
    case a: SortAggregateExec if a.groupingExpressions.isEmpty => true
    case _: TakeOrderedAndProjectExec => true
    case _: GlobalLimitExec => true
    case _: CollectLimitExec => true
    case _: LocalTableScanExec => true
    // row-count-preserving (or shrinking) wrappers: bounded iff the input is
    case e: Exchange => boundedRoot(e.child, extraHead)
    case r: ReusedExchangeExec => boundedRoot(r.child, extraHead)
    case w: WholeStageCodegenExec => boundedRoot(w.child, extraHead)
    case i: InputAdapter => boundedRoot(i.child, extraHead)
    case pr: ProjectExec => boundedRoot(pr.child, extraHead)
    case f: FilterExec => boundedRoot(f.child, extraHead)
    case s: SortExec => boundedRoot(s.child, extraHead)
    // a GROUPED aggregate emits at most one row per input row
    case a: BaseAggregateExec => boundedRoot(a.child, extraHead)
    case u: UnionExec => u.children.forall(boundedRoot(_, extraHead))
    case _ => false
  }

  private def boundedBuild(p: SparkPlan): Boolean = boundedRoot(p, _ => false)

  /** Queries whose nested-loop build side is a GROUPED aggregate the
    * bounded-build scan above cannot prove tiny, but whose cardinality
    * is a model constant by construction, not a data size. Every entry
    * must say why. Kept deliberately name-exact: a NEW query landing a
    * grouped-build BNLJ fails the sweep until it is justified here.
    */
  private val groupedBuildJustified: Map[String, String] = Map(
    "q24_ann_cosine" ->
      ("brute-force cosine top-k IS the query's semantics: the oracle " +
        "baseline every approximate path (q41/q75 IVF, q112 SRP, q114 " +
        "SemDeDup) is audited against; its probe panel is a fixed small " +
        "selection, and the scale answer is those queries, not this one"),
    "q75_ivf_recall" ->
      ("the recall audit's TRUTH side is q24's brute-force scorer over a " +
        "fixed 50-probe panel; the audited IVF side routes through " +
        "bounded centroid builds — the unbounded-looking build is the " +
        "broadcast probe panel, constant-sized by the audit's design"),
    "q151_adc_recall" ->
      ("q75's justification, Quantize edition: the audit's TRUTH side " +
        "is the brute-force L2 scorer (Similarity.l2TopK) over a fixed " +
        "32-probe panel — the unbounded-looking build is the broadcast " +
        "probe panel, constant-sized by the audit's design; both " +
        "audited ADC sides score through bounded literal-LUT plans"),
    "q126_corpus_drift" ->
      ("the uncapped groups x vocabulary grid builds on the per-source " +
        "totals frame (one row per source, a data-model constant, the " +
        "correct side to broadcast when the vocabulary is the big side); " +
        "q134 is the top-V-capped 100-TB form whose word side the sweep " +
        "proves bounded via its TakeOrdered cap")
  )

  /** An empty-partition window is acceptable when its input is bounded
    * by construction: the same shapes `boundedBuild` accepts (limit /
    * top-k / zero-key aggregate — `Rankings.topK` windows AFTER
    * `limit(k)`), or `Rankings.globalRank`'s offsets frame — an
    * aggregate grouped exactly on the `__pid` spark_partition_id
    * column, whose cardinality is the shuffle partition count, never
    * the data (SURVEY §4's "the only place a single-partition window
    * runs"). Root-anchored like `boundedBuild` (r08 ADVICE): the
    * `__pid` aggregate must head the window's input, not merely appear
    * somewhere beneath a row-growing node.
    */
  private def boundedWindowInput(p: SparkPlan): Boolean =
    boundedRoot(p, {
      case a: HashAggregateExec
        if a.groupingExpressions.map(_.name) == Seq("__pid") => true
      case _ => false
    })

  /** Empty-partition windows over inputs `boundedWindowInput` cannot
    * prove bounded, each with a reason. Same rule: new entries need one.
    */
  private val globalWindowJustified: Map[String, String] = Map(
    // (empirically none today: every global ordering in the registry
    // goes through Rankings.globalRank's range-exchange construction
    // or windows after an explicit limit)
  )

  /** Aggregates whose per-group STATE is an array buffer (collect_list /
    * collect_set): the q109/q126 pre-r08 pattern this sweep was born
    * from — correct at any fixture scale, an OOM at 100 TB the moment
    * the group's cardinality is data-sized (a power-law hub's
    * in-neighborhood, a corpus vocabulary) rather than a model constant
    * (a document's tokens, a query's terms, nBuckets). Boundedness is a
    * DATA-MODEL property the plan cannot prove, so the screen flags
    * every such aggregate and each registry query carrying one must
    * justify, in writing, what bounds its group size.
    */
  private def arrayBufferAggs(p: SparkPlan): Seq[String] = p.collect {
    case a: BaseAggregateExec if a.aggregateExpressions.exists(ae =>
      ae.aggregateFunction.isInstanceOf[CollectList] ||
        ae.aggregateFunction.isInstanceOf[CollectSet]) =>
      a.aggregateExpressions.map(_.aggregateFunction)
        .collect { case c: CollectList => c.prettyName
                   case c: CollectSet => c.prettyName }.distinct.mkString("+")
  }

  /** Queries whose collect_list/collect_set buffers are bounded by a
    * data-model constant, each with the bound written out. Name-exact:
    * a NEW query landing an array-buffer aggregate fails the sweep
    * until its bound is justified here (or the fold is re-expressed as
    * a mergeable grid sum, the q109/q126/q134 fix).
    */
  private val arrayBufferJustified: Map[String, String] = Map(
    // (q104/q128/q135 left in r09 — Retrieval.bm25TopK's score fold
    // became the exact-integer-grid sum; q111/q119/q129/q131 and q124
    // left in r10 the same way — LanguageModel's logp fold and
    // Classifier's margin fold converted to grid sums, and q125's
    // recon_err half did too. Every SURVIVING entry must say why a grid
    // sum CANNOT replace it, not just what bounds it: the remaining
    // buffers all reassemble SEQUENCES, where order IS the semantics
    // and no commutative reduction exists.)
    "q125_pq_codes" ->
      ("Quantize.pqEncode's surviving buffer is the '_'-joined CODE " +
        "STRING — one (sub, code) struct per subspace gathered in " +
        "subspace order (nSub = 8, a model constant). A grid sum cannot " +
        "replace it because the output is a sequence, not a sum; the " +
        "numeric recon_err half of the old fold DID convert (r10)"),
    "q145_pq_adc_topk" ->
      ("inherits q125's buffer: the ADC search consumes the stored code " +
        "STRINGS, so its plan contains pqEncode's nSub-bounded " +
        "subspace-order gather (see q125's entry); the search's own " +
        "scoring is a zero-buffer literal-LUT projection and its " +
        "distance sum is already the exact-integer-grid form"),
    "q147_ivf_adc" ->
      ("inherits q125's buffer through the same index-build path as " +
        "q145 (the stored code strings are pqEncode's nSub-bounded " +
        "subspace-order gather); the routed search adds only the " +
        "broadcast probe join and the literal-LUT grid sum — no " +
        "buffer of its own"),
    "q148_ivf_adc_residual" ->
      ("q147's justification on the residual base: the index build is " +
        "pqEncode over (vector − coarse centroid) rows, so the plan " +
        "carries the same nSub-bounded subspace-order code gather; " +
        "the per-(query, list) LUT search is buffer-free"),
    "q149_pq_trained" ->
      ("q125's justification against the TRAINED codebook (a driver " +
        "literal, so training itself is not in the gated plan): the " +
        "encode's nSub-bounded subspace-order code gather is the only " +
        "buffer; the trainer's own per-(sub, code) mean gather is " +
        "subDim-bounded and runs at build time"),
    "q150_ivfpq_trained" ->
      ("q148's justification with both books TRAINED (each a driver " +
        "literal): the index build is pqEncode over residual rows, so " +
        "the plan carries the same nSub-bounded subspace-order code " +
        "gather; the coarse/fine trainers' own gathers are k- and " +
        "subDim-bounded and run at build time"),
    "q151_adc_recall" ->
      ("inherits q125's buffer through the same index-build path as " +
        "q145/q147 (both audited searches scan the stored code strings, " +
        "pqEncode's nSub-bounded subspace-order gather); the audit's " +
        "own hit counting is plain grouped counts"),
    "q152_adc_refine" ->
      ("inherits q125's buffer through the shortlist's index-build path " +
        "(the ADC scan reads pqEncode's stored code strings); the " +
        "refine step itself is an equi-join plus a fold — buffer-free"),
    "q127_bpe_encode" ->
      ("Bpe.encodeCorpus reassembles each document's token stream (and " +
        "each word's BPE symbols) in POSITION order — the tokenized " +
        "string is the output; a sum has no notion of position, so no " +
        "grid rewrite exists. Bounded by doc/word length (the per-row " +
        "unit the pipeline already holds as `text`), never the vocabulary"),
    "q130_span_scrub" ->
      ("Dedup.scrubDupSpans reassembles ONE document's kept tokens in " +
        "position order into clean_text — rewritten TEXT, not a " +
        "statistic, so order is the semantics and a commutative grid " +
        "sum cannot express it. Bounded by a single document's tokens")
  )

  /** Plan with AQE off (see class doc: the static plan is what the
    * sweep screens; under AQE the executed plan hides inside
    * AdaptiveSparkPlanExec stages that `SparkPlan.collect`/pattern
    * matches cannot traverse).
    */
  private def staticPlan(df: => org.apache.spark.sql.DataFrame): SparkPlan = {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  private lazy val plans: Map[String, SparkPlan] = {
    val names = SparkEntry.queries.keys.toSeq.filterNot(Bench.harnessBound).sorted
    names.map { n => n -> staticPlan(SparkEntry.queries(n)(spark, sf)) }.toMap
  }

  /** The streaming builders' BATCH-EQUIVALENT plans (r10 verdict item
    * 5): the harness-bound gates are excluded from `plans` because
    * their registry entries EXECUTE streaming fixtures on construction,
    * which left the StreamOps transforms outside the automated
    * four-shape screen — their scale contracts were pinned only
    * individually in the streaming specs. Every StreamOps builder is a
    * plain Dataset transform, so applying it to the BATCH fixture
    * frames yields a plannable query whose join/aggregate/window
    * shapes are exactly what each micro-batch plans (watermarks
    * erase in batch; `flatMapGroupsWithState` and
    * `dropDuplicatesWithinWatermark` both plan in batch mode); the
    * foreachBatch SINKS (nearDupSink/upsertSink) route through
    * Similarity/Merge, whose shapes the batch registry already sweeps
    * via q46/q15.
    */
  private lazy val streamingPlans: Map[String, SparkPlan] = {
    import graft.streaming.StreamOps
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val t = graft.sources.Tables(spark, sf)
    val ev = t.events
    val typed = ev.select(col("user_id"), col("ts"), col("value"))
      .as[StreamOps.Event]
    val funnelTyped = ev.select(col("user_id"), col("ts"), col("event_type"))
      .as[StreamOps.FunnelEvent]
    Map(
      "windowedRollup" -> staticPlan(StreamOps.windowedRollup(
        ev, "ts", "user_id", "value", "1 hour", "10 minutes")),
      // dropDuplicatesWithinWatermark refuses batch frames outright
      // (UnsupportedOperationChecker), so this one builder is screened
      // through the batch dedup of the SAME key — the identical
      // aggregate shape each micro-batch plans; its watermark-horizon
      // state bound is the streaming specs' contract, not a plan shape
      "dedupByIdWithinWatermark" -> staticPlan(
        ev.withWatermark("ts", "10 minutes").dropDuplicates("event_id")),
      "enrichStream" -> staticPlan(StreamOps.enrichStream(
        ev, t.customer, "user_id", "c_custkey", Seq("c_name", "c_acctbal"))),
      "intervalJoinStream" -> staticPlan(StreamOps.intervalJoinStream(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        "user_id", "ts", 3600, "10 minutes")),
      "intervalJoinStreamLeftOuter" -> staticPlan(StreamOps.intervalJoinStreamLeftOuter(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "purchase"),
        "user_id", "ts", 3600, "10 minutes")),
      "sessionize" -> staticPlan(StreamOps.sessionize(typed, 1800).toDF()),
      "funnelStream" -> staticPlan(StreamOps.funnelStream(
        funnelTyped, Seq("view", "click", "purchase")).toDF())
    )
  }

  test("dedupByIdWithinWatermark's real streaming shape matches its batch stand-in (stand-in cannot drift)") {
    // the batch screen below plans a stand-in for this one builder (it
    // refuses batch frames outright); this guard pins the BUILDER's own
    // analyzed streaming plan — a bare watermarked stateful dedup on
    // exactly the id key, no joins/aggregates/windows — so a future
    // change to the builder cannot silently diverge from the shape the
    // stand-in screens
    import org.apache.spark.sql.functions.col
    val src = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
      .select(col("timestamp").as("ts"), col("value").as("event_id"))
    val analyzed = graft.streaming.StreamOps
      .dedupByIdWithinWatermark(src, "ts", "event_id", "10 minutes")
      .queryExecution.analyzed
    val names = analyzed.collect { case n => n.nodeName }
    assert(names.count(_ == "DeduplicateWithinWatermark") == 1,
      s"builder no longer a single stateful dedup: $names")
    assert(!names.exists(n => n.contains("Join") || n.contains("Aggregate") ||
      n.contains("Window")), s"builder grew shapes the stand-in does not screen: $names")
    val keys = analyzed.collect {
      case d if d.nodeName == "DeduplicateWithinWatermark" =>
        d.expressions.flatMap(_.references.map(_.name))
    }.flatten
    assert(keys == Seq("event_id"), s"dedup key drifted from the stand-in's: $keys")
  }

  test("every StreamOps builder's batch-equivalent plan passes the four screens") {
    assert(streamingPlans.size >= 7, "streaming sweep lost a builder")
    val offenders = streamingPlans.toSeq.sortBy(_._1).flatMap { case (n, p) =>
      val cart = p.collect { case c: CartesianProductExec => c }.nonEmpty
      val badBnlj = p.collect {
        case b: BroadcastNestedLoopJoinExec =>
          b.buildSide match {
            case BuildLeft  => b.left
            case BuildRight => b.right
          }
      }.exists(!boundedBuild(_))
      val badWin = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.child
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.child
      }.exists(!boundedWindowInput(_))
      val buf = arrayBufferAggs(p).nonEmpty
      val hits = Seq("cartesian" -> cart, "unbounded-bnlj" -> badBnlj,
        "global-window" -> badWin, "array-buffer" -> buf)
        .collect { case (tag, true) => tag }
      if (hits.nonEmpty) Some(s"$n(${hits.mkString("+")})") else None
    }
    assert(offenders.isEmpty,
      s"streaming builders with 100-TB-killing plan shapes: ${offenders.mkString(", ")}")
  }

  test("every batch query plans (registry surface is sweepable)") {
    assert(plans.size >= 100, s"sweep covered only ${plans.size} queries")
  }

  test("no batch query plans an unbroadcast pair scan (CartesianProduct)") {
    val offenders = plans.toSeq.sortBy(_._1).collect {
      case (n, p) if p.collect { case c: CartesianProductExec => c }.nonEmpty => n
    }
    assert(offenders.isEmpty,
      s"CartesianProduct in: ${offenders.mkString(", ")} — " +
        "broadcast the small side or rewrite as an equi-join")
  }

  test("every nested-loop join broadcasts a provably bounded side") {
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (n, p) =>
      val bad = p.collect {
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case BuildLeft  => b.left
            case BuildRight => b.right
          }
          b -> build
      }.filterNot { case (_, build) => boundedBuild(build) }
      if (bad.nonEmpty && !groupedBuildJustified.contains(n)) Some(n) else None
    }
    assert(offenders.isEmpty,
      s"unbounded BroadcastNestedLoopJoin build in: ${offenders.mkString(", ")} — " +
        "the build side must be a zero-key aggregate or an explicit top-k/limit " +
        "(or add a justified entry to groupedBuildJustified)")
  }

  test("no batch query funnels the dataset through a single-partition window") {
    val offenders = plans.toSeq.sortBy(_._1).flatMap { case (n, p) =>
      val globalWindows = p.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w.child
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w.child
      }.filterNot(boundedWindowInput)
      if (globalWindows.nonEmpty && !globalWindowJustified.contains(n)) Some(n) else None
    }
    assert(offenders.isEmpty,
      s"unpartitioned window in: ${offenders.mkString(", ")} — " +
        "use Rankings.globalRank (range exchange) or TakeOrderedAndProject " +
        "(or add a justified entry to globalWindowJustified)")
  }

  test("every array-buffer aggregate (collect_list/set) has a written group-size bound") {
    val offenders = plans.toSeq.sortBy(_._1).collect {
      case (n, p) if arrayBufferAggs(p).nonEmpty && !arrayBufferJustified.contains(n) => n
    }
    assert(offenders.isEmpty,
      s"unjustified collect_list/collect_set buffer in: ${offenders.mkString(", ")} — " +
        "either re-express the fold as a mergeable exact-integer-grid sum " +
        "(operators/Classifier.scala's gradient, adopted by q109/q126) or add " +
        "a justified entry to arrayBufferJustified stating what bounds the group")
  }

  test("the array-buffer screen flags a synthetic data-sized collect_list (screen is live)") {
    // the exact shape the screen exists for: one list per key, group
    // cardinality = data size / #keys — grows without bound with the data
    import org.apache.spark.sql.functions.{col, collect_list, collect_set, pmod}
    val df = spark.range(100)
      .groupBy(pmod(col("id"), org.apache.spark.sql.functions.lit(3)).as("k"))
      .agg(collect_list(col("id")).as("ids"))
    assert(arrayBufferAggs(staticPlan(df)).nonEmpty,
      "screen failed to flag a grouped collect_list")
    val df2 = spark.range(100).agg(collect_set(col("id")).as("ids"))
    assert(arrayBufferAggs(staticPlan(df2)).nonEmpty,
      "screen failed to flag a zero-key collect_set")
  }

  /** The driver-collect audit: every `.collect()`/`.collectAsList(` in
    * MAIN source must carry the word "bounded" on its own line or
    * within the five lines above it — the written-bound convention the
    * boundedRoot certificate delegates to ("the no-data-sized-collect
    * audit"), until now a per-round hand grep. A `.collect()` without a
    * stated bound is the one driver-side shape no plan screen can see:
    * the plan is fine, the DRIVER heap is what dies at 100 TB. Returns
    * the 1-based offending line numbers so the failure message names
    * file:line. Pure function over source lines so the liveness test
    * can feed it synthetic offenders.
    */
  private def unboundedCollects(lines: IndexedSeq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (l, i)
        if (l.contains(".collect()") || l.contains(".collectAsList(")) &&
          !lines.slice(math.max(0, i - 5), i + 1)
            .exists(_.toLowerCase.contains("bounded")) => i + 1
    }

  /** Every `.scala` file under `src/main/scala` with its lines, sorted by
    * path — the walk the source audits share. */
  private def mainSources: Seq[(java.nio.file.Path, IndexedSeq[String])] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"source root not found from ${java.nio.file.Paths.get("").toAbsolutePath} — " +
        "the audit must run from the repo root")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map(f => f -> java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq)
  }

  test("every driver-side collect in main source states its bound within five lines") {
    val offenders = mainSources.flatMap { case (f, lines) =>
      unboundedCollects(lines).map(n => s"$f:$n")
    }
    assert(offenders.isEmpty,
      s"driver collect without a written bound: ${offenders.mkString(", ")} — " +
        "state what bounds the collected row count (a scalar aggregate, a " +
        "key-capped fixture, k centroids, nBuckets gradient rows, calendar " +
        "days, ...) in a comment containing 'bounded' within five lines above")
  }

  test("the driver-collect audit flags an unannotated collect (screen is live)") {
    val offender = IndexedSeq(
      "val all = docs.select(col(\"text\"))",
      "  .collect()")
    assert(unboundedCollects(offender) == Seq(2),
      "audit failed to flag a bare data-sized collect")
    val justified = IndexedSeq(
      "// bounded: one row per feature bucket",
      "val g = grads.collect()")
    assert(unboundedCollects(justified).isEmpty,
      "audit flagged a collect with a written bound")
    val tooFar = IndexedSeq(
      "// bounded: this note is six lines up, outside the window",
      "", "", "", "", "",
      "val g = grads.collect()")
    assert(unboundedCollects(tooFar) == Seq(7),
      "audit accepted a bound note outside the five-line window")
  }

  /** The thread-pool audit: overlapped Spark jobs go through
    * `graft.pipeline.Overlap`, the one place that cancels siblings on a
    * failure. Returns the 1-based lines of `lines` that build a pool by
    * hand. Pure function over source lines so the liveness test can feed
    * it synthetic offenders.
    */
  private def handRolledPools(lines: IndexedSeq[String]): Seq[Int] =
    lines.zipWithIndex.collect {
      case (l, i) if Seq("Executors.new", "fromExecutorService", "newFixedThreadPool")
          .exists(l.contains) => i + 1
    }

  test("no main source outside Overlap builds its own thread pool") {
    val offenders = mainSources
      .filterNot(_._1.getFileName.toString == "Overlap.scala")
      .flatMap { case (f, lines) => handRolledPools(lines).map(n => s"$f:$n") }
    assert(offenders.isEmpty,
      s"hand-rolled thread pool: ${offenders.mkString(", ")} — overlap independent " +
        "jobs with graft.pipeline.Overlap.run, which cancels the siblings on a failure")
  }

  test("the thread-pool audit flags a hand-rolled pool (screen is live)") {
    val offender = IndexedSeq(
      "val pool = java.util.concurrent.Executors.newFixedThreadPool(4)",
      "implicit val ec: ExecutionContext =",
      "  ExecutionContext.fromExecutorService(pool)",
      "val one = Executors.newSingleThreadExecutor()")
    assert(handRolledPools(offender) == Seq(1, 3, 4), "audit missed a hand-rolled pool")
    assert(handRolledPools(IndexedSeq(
      "graft.pipeline.Overlap.run(spark, \"writes\")(tasks)")).isEmpty,
      "audit flagged an Overlap call")
  }

  test("the root-anchored bounded-build certificate rejects a deep-bounded big build (screen is live)") {
    // r08 ADVICE shape: a corpus-sized probe joined with a LIMIT 5 frame —
    // the old anywhere-in-subtree scan certified this via the folded
    // limit; the root-anchored form must NOT (the join can grow past it)
    import org.apache.spark.sql.functions.col
    val big = spark.range(1000).select(col("id"))
    val deep = big.join(spark.range(50).select(col("id")).limit(5), Seq("id"))
    assert(!boundedBuild(staticPlan(deep)),
      "join above a limit certified as bounded — root anchoring regressed")
    val scalar = spark.range(1000).agg(org.apache.spark.sql.functions.count(col("id")).as("n"))
    assert(boundedBuild(staticPlan(scalar)),
      "zero-key aggregate no longer certifies — root anchoring over-tightened")
  }
}
