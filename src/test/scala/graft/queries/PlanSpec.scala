package graft.queries

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite

/**
 * Physical-plan shape assertions for the scale-critical operators: the
 * correctness gates pin WHAT the queries compute; these pin HOW Catalyst
 * executes them — the properties that decide whether the same code
 * survives a 100× scale-up. A regression that flips a broadcast join to
 * a shuffle or sneaks a cartesian product into a bucketed path passes
 * every value-equality test and only shows up here (or in production).
 */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // AQE finalizes the plan only on execution
    df.queryExecution.executedPlan
  }

  private def treeNames(p: SparkPlan): Seq[String] = {
    val b = scala.collection.mutable.ArrayBuffer[String]()
    def walk(n: SparkPlan): Unit = {
      b += n.nodeName
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
      // adaptive wrappers hide the real subtree behind executedPlan fields
      n match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          walk(q.plan)
        case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec =>
          walk(r.child)
        case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          walk(c.relation.cachedPlan) // the join shape hides inside .cache()
        case _ => ()
      }
    }
    walk(p)
    b.toSeq
  }

  private def docs = spark.read.parquet(s"$sf/documents.parquet")

  /** All nodes of the executed plan, with every AQE / cache wrapper
    * unwrapped — the one traversal every plan-shape assertion shares. */
  private def collectNodes(n: SparkPlan): Seq[SparkPlan] = {
    val sub = n match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => Seq(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(c.relation.cachedPlan)
      case other => other.children
    }
    n +: sub.flatMap(collectNodes)
  }

  /** Output column names of every shuffle exchange in the plan. */
  private def shuffleCols(p: SparkPlan): Seq[Seq[String]] =
    collectNodes(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name).toSeq
    }

  test("LSH band join is an equi-join, never a cartesian product") {
    val names = treeNames(executed(
      graft.ops.Dedup.minhashLshPairs(docs, "doc_id", "text", numHashes = 16, bands = 8)))
    assert(!names.exists(n => n.contains("CartesianProduct")), names.distinct)
    assert(names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin")
      || n.contains("BroadcastHashJoin")), names.distinct)
  }

  test("blocked SimHash pair join is an equi-join, never a cartesian product") {
    val names = treeNames(executed(
      graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)))
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
  }

  test("passage-dedup coverage is linear: never a cartesian, no self-join pair expansion") {
    val names = treeNames(executed(
      graft.ops.Dedup.duplicatePassageCoverage(docs, "doc_id", "text", w = 8, minDocs = 2)))
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    // the dup-hash attach and the final doc re-attach are the only joins:
    // every join key is an equi-key (h or doc id), so each position row
    // matches at most one dup-set row — no b² bucket blowup exists here
    val joins = names.count(n => n.contains("Join"))
    assert(joins <= 3, s"expected <= 3 equi-joins, saw $joins: ${names.distinct}")
  }

  test("IVF assignment is a pure map: no Exchange, no join in the subplan") {
    // the round-3 plan shuffled N·nlist vector-carrying rows through a
    // per-id row_number window; the assignment must stay inside the scan
    // stage (per-row argmax over the centroid literal)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = graft.ops.Ann.ivfCentroids(emb, "vec_id", "embedding", nlist = 8)
    val names = treeNames(executed(
      graft.ops.Ann.ivfAssign(emb, "vec_id", "embedding",
        graft.ops.Ann.centroidLiteral(cents), keep = 1)))
    assert(!names.exists(_.contains("Exchange")), names.distinct)
    assert(!names.exists(_.contains("Join")), names.distinct)
    assert(!names.exists(_.contains("Window")), names.distinct)
  }

  test("IVF topK: no cartesian product; the only vector shuffle is the cluster-keyed join") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val names = treeNames(executed(
      graft.ops.Ann.ivfTopK(emb.filter(org.apache.spark.sql.functions.col("vec_id") % 50 === 0),
        emb, "vec_id", "embedding", k = 3, nlist = 8, nprobe = 2)))
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
  }

  test("simhash pair generation has NO aggregation after the join (witness dedup)") {
    // the r3 plan ran distinct() over the joined candidates — matches were
    // shuffled once per agreeing key; the canonical-witness predicate must
    // leave the join as the LAST exchange-bearing operator
    val plan = executed(
      graft.ops.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3, agreeBlocks = 2))
    def above(n: SparkPlan, stop: String => Boolean): Seq[String] = {
      // node names from the root DOWN TO the first join: anything here runs
      // on the join's output
      val b = scala.collection.mutable.ArrayBuffer[String]()
      def walk(x: SparkPlan): Boolean = { // true once a join was found below
        val name = x.nodeName
        if (stop(name)) true
        else {
          val sub = x match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
            case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec => Seq(r.child)
            case other => other.children
          }
          val found = sub.exists(walk)
          if (found) b += name
          found
        }
      }
      walk(n)
      b.toSeq
    }
    val aboveJoin = above(plan, _.contains("Join"))
    assert(aboveJoin.nonEmpty, "no join found in the simhashPairs plan")
    assert(!aboveJoin.exists(n => n.contains("Aggregate") || n.contains("Exchange")),
      aboveJoin)
  }

  test("nearDupPairs drops degenerate signature buckets before pair expansion") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 64 identical vectors: one (table, signature) bucket per table would
    // emit 64*63/2 pairs per table without the cap
    val dup = (0 until 64).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val capped = graft.ops.Ann.nearDupPairs(dup, "vec_id", "embedding",
      threshold = 0.9, maxBucketSize = 10)
    assert(capped.count() == 0L) // every bucket degenerate -> dropped, bounded
    val uncapped = graft.ops.Ann.nearDupPairs(dup, "vec_id", "embedding",
      threshold = 0.9, maxBucketSize = 10000)
    assert(uncapped.count() == 64L * 63 / 2)
  }

  test("predicate pushdown and column pruning reach the parquet scan") {
    import org.apache.spark.sql.functions._
    val q = docs.filter(col("lang") === "ja").select(col("doc_id"))
    val p = executed(q)
    def scansOf(n: SparkPlan): Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
      val here = n match {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case _ => Nil
      }
      here ++ n.children.flatMap(scansOf)
    }
    val scan = scansOf(p).headOption.getOrElse(fail("no FileSourceScanExec found"))
    assert(scan.metadata.get("PushedFilters").exists(_.contains("IsNotNull(lang)")),
      scan.metadata.get("PushedFilters"))
    // column pruning: the scan must read only the referenced columns
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("doc_id", "lang"), readCols)
  }

  test("SemDeDup: literal-centroid assignment, equi-joins only, never a cartesian") {
    val spark2 = spark
    import spark2.implicits._
    val emb = Seq.tabulate(64)(i => (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 0.9))))
      .toDF("id", "v")
    val cents = Seq((0, Seq(1.0, 0.0), 1.0), (1, Seq(0.0, 1.0), 1.0))
      .toDF("cluster", "cv", "cn")
    val names = treeNames(executed(
      graft.ops.SemDedup.semDedup(emb, "id", "v", cents, threshold = 0.99)))
    // the centroid argmax is a per-row expression over a literal — any
    // join here is the within-cluster pair join or an id re-attach, all
    // equi-keyed; a cartesian would mean the assignment regressed to a
    // crossJoin(centroids) or the pair join lost its cluster key
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
  }

  test("DSIR selection: ratio plane broadcasts, top-k is TakeOrdered, never a cartesian") {
    // the composed dsirSelect localCheckpoints its k rows (so callers
    // can't re-trigger the featurization) — pin the shape of the
    // underlying pipeline the checkpoint materializes
    val tf = graft.ops.Dsir.features(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 9 === 0),
      "doc_id", "text", n = 2, nBuckets = 512)
    val rf = graft.ops.Dsir.features(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 9 =!= 0),
      "doc_id", "text", n = 2, nBuckets = 512)
    val ratios = graft.ops.Dsir.bucketLogRatios(tf, rf, nBuckets = 512)
    val q = graft.ops.Dsir.select(
      graft.ops.Dsir.importanceWeights(rf, ratios), 50)
    val p = executed(q)
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // the O(nBuckets) ratio plane must reach the weight join as a
    // broadcast — a shuffled join there would exchange the whole corpus
    // n-gram plane twice
    assert(names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    // Gumbel-top-k = per-partition heaps + driver merge, never a global sort
    assert(names.exists(_.contains("TakeOrderedAndProject")), names.distinct)
  }

  test("revalidation plan: one aggregate + one equi-join, never a cartesian") {
    val q = graft.SparkEntry.queries("q71_revalidate_plan")(spark, sf)
    val names = treeNames(executed(q))
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    assert(names.exists(_.contains("HashAggregate")), names.distinct) // map-side combinable max_by
  }

  test("q13 frontier order: rank window runs over the distributed top-k, never the corpus") {
    val q = graft.SparkEntry.queries("q13_frontier_order")(spark, sf)
    val p = executed(q)
    val windows = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, treeNames(p))
    // every rank window's input subtree must contain the TakeOrderedAndProject
    // (per-partition heaps + driver merge) — i.e. the window ranks only the k
    // survivors; a window whose subtree lacks it is running over the raw scan
    windows.foreach { w =>
      val below = collectNodes(w.child).map(_.nodeName)
      assert(below.exists(_.contains("TakeOrderedAndProject")), below)
    }
  }

  test("curation pipeline: no cartesian; document bodies cross at most one exchange") {
    val out = graft.ops.Curation.curate(docs, "doc_id", "text",
      graft.ops.Curation.Config(minTokens = 5, minUniqRatio = 0.1,
        maxDupLineFrac = 0.9, sampleRate = 0.5))
    val p = executed(out)
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // exchanges whose output schema still carries the text column: only
    // the dedup semi-join's corpus side may move bodies (AQE may instead
    // broadcast the winner ids, making even that zero)
    val bodyExchanges = shuffleCols(p).count(_.contains("text"))
    assert(bodyExchanges <= 1, s"document bodies crossed >1 exchange:\n${names.distinct}")
  }

  test("decontamination: benchmark side broadcasts; corpus is never shuffled") {
    val bench = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 17 === 0)
    val corpus = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 17 =!= 0)
    val p = executed(graft.ops.Decontaminate.contaminationHits(
      corpus, "doc_id", "text", bench, "text", n = 8))
    val names = treeNames(p)
    assert(names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    assert(!names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin")),
      names.distinct)
    // allowed: the BENCH side's distinct (a gram-hash-only shuffle, O(MB)
    // by the op's contract). Forbidden: any shuffle of corpus gram rows
    // (they carry doc_id alongside g) or of text.
    assert(shuffleCols(p).forall(cols => !cols.contains("text") &&
      !(cols.contains("g") && cols.contains("doc_id"))),
      shuffleCols(p))
  }

  test("packing layout: no text in any exchange, windows are partition-local") {
    // pin the DISTRIBUTED path (gate forced off): at corpus scale this is
    // the plan every layout call runs
    val p = executed(graft.ops.Packing.layout(docs, "doc_id", "text", 1024L,
      nParts = 8, maxDriverDocs = 0))
    val names = treeNames(p)
    // no exchange may carry text; the scan projects it away
    assert(shuffleCols(p).forall(!_.contains("text")), shuffleCols(p))
    // every Window node must have a partition spec (a global orderBy
    // window would single-partition the corpus)
    val ws = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty, names.distinct)
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"found a partition-less Window: ${names.distinct}")
  }

  test("packing layout under the doc-count gate: local plan, identical rows") {
    // the size-gated driver prefix sum must produce EXACTLY the
    // distributed scan's rows, from a plan with no exchange at all
    val fast = graft.ops.Packing.layout(docs, "doc_id", "text", 1024L, nParts = 8)
    val dist = graft.ops.Packing.layout(docs, "doc_id", "text", 1024L,
      nParts = 8, maxDriverDocs = 0)
    assert(treeNames(executed(fast)).forall(!_.contains("Exchange")),
      treeNames(executed(fast)).distinct)
    assert(fast.schema == dist.schema)
    val k = fast.columns.map(org.apache.spark.sql.functions.col)
    assert(fast.orderBy(k: _*).collect().toSeq ==
      dist.orderBy(k: _*).collect().toSeq)
  }

  test("shard layout under the doc-count gate: local plan, identical rows") {
    val fast = graft.ops.Shard.globalShuffleLayout(
      docs, "doc_id", a = 73L, b = 11L, p = 1000003L, shardSize = 16L, nParts = 8)
    val dist = graft.ops.Shard.globalShuffleLayout(
      docs, "doc_id", a = 73L, b = 11L, p = 1000003L, shardSize = 16L,
      nParts = 8, maxDriverDocs = 0)
    assert(treeNames(executed(fast)).forall(!_.contains("Exchange")),
      treeNames(executed(fast)).distinct)
    assert(fast.schema == dist.schema)
    val k = org.apache.spark.sql.functions.col("doc_id")
    assert(fast.orderBy(k).collect().toSeq == dist.orderBy(k).collect().toSeq)
  }

  test("SangiinPipeline dim joins broadcast the dims") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val meisai = Seq(graft.model.BillMeisai(
      bill_id = "Bill:1", committee_names = Seq("参議院内閣委員会"),
      submitter_text = Some("逢沢一郎君"))).toDS()
    val committees = Seq(graft.model.Committee("Committee:1", "参議院内閣委員会")).toDS()
    val members = Seq(graft.model.Member("Member:1", "逢沢一郎")).toDS()
    val out = graft.extract.transforms.SangiinPipeline.run(spark, meisai, committees, members)
    val edgeNames = treeNames(executed(out.billCommitteeEdges.toDF()))
    assert(edgeNames.exists(_.contains("BroadcastHashJoin")), edgeNames.distinct)
    val memberNames = treeNames(executed(out.memberBillEdges.toDF()))
    // containment (non-equi) joins must broadcast the dim, never shuffle
    assert(memberNames.exists(_.contains("BroadcastNestedLoopJoin")), memberNames.distinct)
    assert(!memberNames.exists(_.contains("CartesianProduct")), memberNames.distinct)
  }

  test("bm25: df plane broadcasts; no exchange carries document text") {
    val p = executed(graft.ops.Search.bm25(
      docs, "doc_id", "text", Seq("data", "spark", "join")))
    val names = treeNames(p)
    assert(names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // the corpus explode is filtered at the scan; text dies before any
    // shuffle — only (doc_id, term, counts) rows move
    assert(shuffleCols(p).forall(!_.contains("text")), shuffleCols(p))
  }

  test("pageRank iteration: shuffles carry fixed-width rank/edge rows only") {
    import spark.implicits._
    val nodes = (0L until 50L).toDF("id")
    val edges = (0L until 49L).map(i => (i, i + 1)).toDF("src", "dst")
    val p = executed(graft.ops.Graph.pageRank(nodes, edges, iters = 2))
    assert(!treeNames(p).exists(_.contains("CartesianProduct")), treeNames(p).distinct)
    // every exchange in the final iteration's plan is (id/src/dst, rank,
    // outdeg, flags) — nothing wider than 4 columns ever moves
    assert(shuffleCols(p).forall(_.size <= 4), shuffleCols(p))
  }

  test("anchorSummary: the top-k window runs over the aggregated (dst, term, cnt) plane") {
    import spark.implicits._
    val anchors = (0L until 200L).map(i => (i % 7, i % 11, s"t${i % 5}"))
      .toDF("src", "dst", "term")
    val p = executed(graft.ops.Graph.anchorSummary(anchors, "src", "dst", "term", 3))
    val ws = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty)
    // the window's child must already be an aggregate (HashAggregate
    // below it in the same subtree), and it must be partitioned
    assert(ws.forall(_.partitionSpec.nonEmpty))
    assert(ws.forall(w => collectNodes(w.child).exists(_.nodeName.contains("HashAggregate"))),
      treeNames(p).distinct)
  }

  test("perplexity scoring: contexts broadcast, text never shuffled, no cartesian") {
    import org.apache.spark.sql.functions.col
    val ref = docs.filter(col("doc_id") % 7 === 0)
    val rest = docs.filter(col("doc_id") % 7 =!= 0)
    val model = graft.ops.Perplexity.bigramModel(
      graft.ops.Perplexity.bigramFeatures(ref, "doc_id", "text", 256))
    val p = executed(graft.ops.Perplexity.scoreNll(
      graft.ops.Perplexity.bigramFeatures(rest, "doc_id", "text", 256), model, 256))
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // the O(nBuckets) context plane joins broadcast; document text dies
    // at the scan (features are fixed-width (id, pb, cb, cnt) rows)
    assert(names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    assert(shuffleCols(p).forall(!_.contains("text")), shuffleCols(p))
  }

  test("cross-split leak join: equi-join on (band, bv), no text in any exchange") {
    val a = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 === 0)
    val b = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 3 =!= 0)
    val p = executed(graft.ops.Splits.crossSplitLeakPairs(a, b, "doc_id", "text"))
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    assert(shuffleCols(p).forall(!_.contains("text")), shuffleCols(p))
  }

  test("BPE encode: segmentation plane broadcasts; corpus text dies at the posexplode") {
    val (_, trained) = graft.ops.Bpe.train(graft.ops.Bpe.wordCounts(docs, "text"), 4)
    val p = executed(graft.ops.Bpe.encode(docs, "doc_id", "text",
      graft.ops.Bpe.segmentation(trained)))
    val names = treeNames(p)
    assert(names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    assert(!names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin")),
      names.distinct)
    assert(shuffleCols(p).forall(!_.contains("text")), shuffleCols(p))
  }

  test("temperature resample: per-stratum cutoff joins broadcast, no cartesian") {
    import org.apache.spark.sql.functions.col
    val p = executed(graft.ops.Temperature.resample(docs, "lang",
      graft.functions.HashFns.polyHash(col("doc_id").cast("string")),
      col("doc_id"), alpha = 0.5, totalDocs = 50))
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // every join in the path (count plane, quota cutoff, rescue semis)
    // is against an O(strata) side and must broadcast — the corpus only
    // ever crosses the bounded per-stratum window exchange
    assert(!names.exists(n => n.contains("SortMergeJoin") || n.contains("ShuffledHashJoin")),
      names.distinct)
    val ws = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty && ws.forall(_.partitionSpec.nonEmpty), names.distinct)
  }

  test("classifier margin scoring: zero joins — the model rides as a literal") {
    // the trained weight vector is an array literal inside the dot-product
    // expression; the corpus-scale pass must be scan → partial agg →
    // one (id)-keyed exchange of fixed-width rows → final agg. A Join or
    // a text-carrying exchange here means the model stopped being a
    // literal and scoring regressed to a per-bucket join.
    val model = graft.ops.QualityClassifier.Model(
      nBuckets = 64, weights = Seq.tabulate(64)(i => (i % 7 - 3).toLong),
      bias = 1L, itersRun = 1, converged = false)
    val p = executed(graft.ops.QualityClassifier.scoreMargin(
      graft.ops.QualityClassifier.features(docs, "doc_id", "text", 64), model))
    val names = treeNames(p)
    assert(!names.exists(_.contains("Join")), names.distinct)
    assert(shuffleCols(p).forall(c => !c.contains("text") && c.size <= 3),
      shuffleCols(p))
    // the doc-direct scoring path is a PURE MAP: the hash loop + margin
    // fold ride one expression tree — zero exchanges, zero joins
    val pd = treeNames(executed(graft.ops.QualityClassifier
      .scoreMarginOnDocs(docs, "doc_id", "text", model)))
    assert(!pd.exists(_.contains("Exchange")), pd.distinct)
    assert(!pd.exists(_.contains("Join")), pd.distinct)
  }

  test("URL-filter audit is a pure map: zero exchanges, zero joins") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val cfg = graft.ops.UrlFilter.Config(
      blockedHosts = Set("x.example"), blockedSuffixes = Seq(".bad.example"),
      wordWeights = Map("casino" -> 0.6, "free" -> 0.5))
    val urls = docs.select(col("doc_id"),
      concat(lit("https://h"), col("doc_id") % 7, lit(".example/p")).as("url"))
    val names = treeNames(executed(graft.ops.UrlFilter.audit(urls, "url", cfg)))
    assert(!names.exists(_.contains("Exchange")), names.distinct)
    assert(!names.exists(_.contains("Join")), names.distinct)
  }

  test("exact-substr spans: linear gram mining — no cartesian, no pair expansion") {
    val names = treeNames(executed(
      graft.ops.SuffixArray.duplicatedSpans(docs, "doc_id", "text", minLen = 16)))
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    // dup mining is a window count keyed by the gram, never a self-join:
    // the only join is the final per-doc text re-attach
    assert(names.count(_.contains("Join")) <= 1, names.distinct)
  }

  test("LCP array: equi-joins only, no text column past the char explode") {
    val plan = executed(
      graft.ops.SuffixArray.adjacentLcp(docs, "doc_id", "text", window = 32))
    val names = treeNames(plan)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    // fixed-width rows only: the doc body crosses one exchange (layout
    // join), then every shuffle carries (gpos, ranks, packs) — no strings
    assert(shuffleCols(plan).count(_.contains("text")) <= 1,
      shuffleCols(plan).toString)
  }

  test("suffix-array char table: text crosses at most one exchange, scan prunes") {
    val plan = executed(graft.ops.SuffixArray.charTable(docs, "doc_id", "text"))
    // the doc body meets its layout offset once; every downstream row is
    // fixed-width (gpos, cp)
    assert(shuffleCols(plan).count(_.contains("text")) <= 1,
      shuffleCols(plan).toString)
    val scans = collectNodes(plan).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(
      _.requiredSchema.fieldNames.toSet.subsetOf(Set("doc_id", "text"))),
      scans.map(_.requiredSchema.fieldNames.mkString(",")))
  }

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("PQ encode is a pure map: the codebook rides as a literal — zero exchanges, zero joins") {
    val book = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val names = treeNames(executed(
      graft.ops.Pq.encode(emb, "vec_id", "embedding", book)))
    assert(!names.exists(_.contains("Exchange")), names.distinct)
    assert(!names.exists(_.contains("Join")), names.distinct)
  }

  test("PQ ADC top-k: neighbor vectors never enter the plan — code rows only") {
    // the corpus side of the scan carries (neighbor_id, codes); the raw
    // embedding column may appear ONLY under the 10-row query side. A
    // vector-carrying exchange here means the codec stopped paying for
    // itself (the whole point is scanning m-byte codes, not 4·D floats).
    import org.apache.spark.sql.functions.col
    val book = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val codes = graft.ops.Pq.encode(emb, "vec_id", "embedding", book)
    val plan = executed(graft.ops.Pq.adcTopK(
      emb.filter(col("vec_id") % 50 === 0), codes, "vec_id", "embedding", book, k = 5))
    // every shuffle row is fixed-width: ids, codes, dist2, rank — never
    // the neighbor embedding ("qv" belongs to the tiny query side)
    assert(shuffleCols(plan).forall(cols => !cols.exists(_.contains("nv"))
      && !cols.exists(_.contains("embedding"))), shuffleCols(plan).toString)
    assert(!treeNames(plan).exists(_.contains("CartesianProduct")),
      treeNames(plan).distinct)
  }

  test("IVF-PQ probe: equi-join on cluster, corpus vectors die at their scan") {
    import org.apache.spark.sql.functions.col
    val book = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 8, ksub = 16)
    val plan = executed(graft.ops.Pq.ivfPqTopK(
      emb.filter(col("vec_id") % 50 === 0), emb, "vec_id", "embedding", book,
      k = 3, nlist = 8, nprobe = 2))
    val names = treeNames(plan)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    assert(!names.exists(_.contains("BroadcastNestedLoopJoin")), names.distinct)
    // the corpus-scale list side shuffles (neighbor_id, cluster, codes) —
    // the raw vector column ("dv"/"nv") never crosses an exchange; "qv"
    // may (nprobe rows per query, query set is small by contract)
    assert(shuffleCols(plan).forall(cols =>
      !cols.exists(c => c.contains("dv") || c.contains("nv") || c.contains("embedding"))),
      shuffleCols(plan).toString)
  }

  test("top-k aggregate: no Window, no per-group sort — a partial agg pair") {
    // the whole point of TopK.topKPerGroup is replacing the row_number
    // window (full shuffle + sort of every group member) with a k-bounded
    // mergeable aggregate: the plan must carry NO Window node and show
    // the two-phase (partial → final) aggregate around one exchange
    val plan = executed(graft.ops.TopK.topKPerGroup(
      docs.selectExpr("doc_id % 7 AS g", "doc_id AS id", "length(text) AS score"),
      "g", "score", "id", k = 3))
    val names = treeNames(plan)
    assert(!names.exists(_.contains("Window")), names.distinct)
    assert(!names.exists(_.contains("Join")), names.distinct)
    assert(names.count(_.contains("Aggregate")) >= 2, names.distinct)
  }

  test("heavy hitters: both passes join-free; the sketch collapses map-side") {
    import org.apache.spark.sql.functions.col
    val toks = docs.selectExpr("explode(split(trim(text), '\\\\s+')) AS tok")
    // pass 1 — the MG sketch: partial ObjectHashAggregate per partition,
    // ONE single-column exchange of k-entry sketch buffers, final merge
    val skDf = {
      import spark.implicits._
      toks.select(col("tok").cast("string")).as[String]
        .select(graft.ops.HeavyHitters.mgAggregator(16).toColumn)
    }
    val p1 = executed(skDf.toDF())
    assert(!treeNames(p1).exists(_.contains("Join")), treeNames(p1).distinct)
    assert(shuffleCols(p1).forall(_.size <= 1), shuffleCols(p1).toString)
    // pass 2 — exact verify: candidate-set isin filter + groupBy on ≤ k
    // keys; no join anywhere (candidates are a literal, not a table)
    val p2 = executed(graft.ops.HeavyHitters.heavyHitters(toks, "tok", q = 10))
    assert(!treeNames(p2).exists(_.contains("Join")), treeNames(p2).distinct)
  }

  test("phash pair join: equi-join on the banded key, grids never shuffle") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val grids = docs.select(col("doc_id")).as[Long].map { id =>
      graft.ops.Multimodal.GridRow(id, s"m$id",
        Array.tabulate(72)(i => (((id % 5) * 31 + i * 13) % 251).toByte))
    }
    val plan = executed(graft.ops.Multimodal.phashPairs(
      graft.ops.Multimodal.dhash64(spark, grids), maxHamming = 4))
    val names = treeNames(plan)
    assert(!names.exists(n => n.contains("Cartesian") ||
      n.contains("BroadcastNestedLoop")), names.distinct)
    assert(names.exists(_.contains("SortMergeJoin")) ||
      names.exists(_.contains("ShuffledHashJoin")) ||
      names.exists(_.contains("BroadcastHashJoin")), names.distinct)
    // the 72-byte grids die at dhash64: no exchange carries a binary column
    assert(shuffleCols(plan).forall(!_.contains("bytes")), shuffleCols(plan).toString)
  }

  test("captionPairs: exactly one exchange (the per-doc window), no join") {
    import org.apache.spark.sql.functions._
    val spans = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("offset", "tok")))
      .select(col("doc_id"), col("offset").cast("long").as("offset"),
        when(col("offset") % 5 === 0, lit("media")).otherwise(lit("text")).as("kind"),
        col("tok").as("text"),
        when(col("offset") % 5 === 0, concat(lit("m"), col("offset"))).as("media_ref"))
    val plan = executed(graft.ops.Multimodal.captionPairs(spans, "doc_id", window = 3))
    val names = treeNames(plan)
    assert(!names.exists(_.contains("Join")), names.distinct)
    // both ignore-nulls scans share one per-doc sort: a single exchange
    // and a single (fused) Window node
    assert(shuffleCols(plan).size == 1, shuffleCols(plan).toString)
    // one Window node per frame (above / below), both over the same sort
    assert(collectNodes(plan).count(_.nodeName.contains("Window")) <= 2,
      collectNodes(plan).map(_.nodeName))
  }

  test("global shuffle layout: ordinal window is partition-local, no shuffle past the pinned range exchange") {
    // distributed path pinned (gate forced off) — the corpus-scale plan
    val p = executed(graft.ops.Shard.globalShuffleLayout(
      docs, "doc_id", a = 73L, b = 11L, p = 1000003L, shardSize = 16L,
      nParts = 8, maxDriverDocs = 0))
    val ws = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty, treeNames(p).distinct)
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"found a partition-less Window: ${treeNames(p).distinct}")
    // the range exchange is pinned inside the localCheckpoint; past it
    // the only allowed exchange is the window's hash repartition by
    // __pid (the checkpoint erases the known partitioning — same cost
    // profile as Packing.layout), and it may carry nothing but the
    // fixed-width (id, key, pid) rows — never a single-partition
    // global-window exchange
    val sc = shuffleCols(p)
    assert(sc.size <= 1, sc)
    assert(sc.forall(cols => cols.toSet.subsetOf(
      Set("doc_id", "perm_key", "__pid"))), sc)
  }

  test("budget select: windows are partition-local, post-checkpoint exchange is fixed-width") {
    import org.apache.spark.sql.functions._
    // distributed path pinned (gate forced off) — the corpus-scale plan
    val p = executed(graft.ops.Budget.selectByBudget(
      docs.withColumn("score", (col("doc_id") * 37 % 101).cast("long")),
      "doc_id", "score", "text", budgetTokens = 1000L, nParts = 8,
      maxDriverDocs = 0))
    val ws = collectNodes(p).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(ws.nonEmpty, treeNames(p).distinct)
    assert(ws.forall(_.partitionSpec.nonEmpty),
      s"found a partition-less (global) Window: ${treeNames(p).distinct}")
    // same cost profile as Packing.layout / Shard.globalShuffleLayout:
    // the range exchange is pinned inside the localCheckpoint; past it
    // only the window's hash repartition by __pid remains, carrying
    // fixed-width rows (id, score, n_tokens, pid) — never text
    val sc = shuffleCols(p)
    assert(sc.size <= 1, sc)
    assert(sc.forall(cols => cols.toSet.subsetOf(
      Set("doc_id", "score", "n_tokens", "__pid"))), sc)
  }

  test("budget select under the doc-count gate: local plan, identical rows") {
    import org.apache.spark.sql.functions._
    val scored = docs.withColumn("score", (col("doc_id") * 37 % 101).cast("long"))
    val fast = graft.ops.Budget.selectByBudget(
      scored, "doc_id", "score", "text", budgetTokens = 1000L, nParts = 8)
    val dist = graft.ops.Budget.selectByBudget(
      scored, "doc_id", "score", "text", budgetTokens = 1000L, nParts = 8,
      maxDriverDocs = 0)
    assert(treeNames(executed(fast)).forall(!_.contains("Exchange")),
      treeNames(executed(fast)).distinct)
    assert(fast.schema == dist.schema)
    assert(fast.orderBy(col("doc_id")).collect().toSeq ==
      dist.orderBy(col("doc_id")).collect().toSeq)
  }

  test("curation funnel: bodies never shuffle — every exchange is metrics-width") {
    val p = executed(graft.ops.Curation.funnel(docs, "doc_id", "text",
      graft.ops.Curation.Config(sampleRate = 0.5)))
    val names = treeNames(p)
    assert(!names.exists(_.contains("CartesianProduct")), names.distinct)
    // exchanges: the winners agg + the hash-plane join sides — none may
    // carry the document text (all gate metrics die row-local at the scan)
    val sc = shuffleCols(p)
    assert(sc.nonEmpty, names.distinct)
    assert(sc.forall(cols => !cols.contains("text")), sc)
    // the dedup-decision join is the only join in the plan
    assert(names.count(_.contains("Join")) <= 1, names.distinct)
  }

  test("BPE training: one Spark job total — the word-plane collect — none per merge") {
    // the r4 shape scheduled ~2 jobs per merge (argmax collect + plane
    // re-materialization); the r5 trainer collects the plane once and
    // trains driver-side, so job count is a CONSTANT in numMerges
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val plane = (0 until 3000).map { i =>
      val rnd = new scala.util.Random(i * 40503L)
      ((0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
        + "x" + i, 1L + 30000L / (i + 1))
    }.toDF("word", "cnt")
    plane.cache().count()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def jobsFor(n: Int): Int = {
      spark.sparkContext.addSparkListener(l)
      jobs.set(0)
      graft.ops.Bpe.train(plane, n)
      Thread.sleep(800)
      spark.sparkContext.removeSparkListener(l)
      jobs.get()
    }
    val (j10, j300) = (jobsFor(10), jobsFor(300))
    assert(j10 == j300, s"jobs scale with merges: $j10 @10 vs $j300 @300")
    assert(j300 <= 2, s"training must cost only the plane collect, got $j300")
    plane.unpersist()
  }

  test("table-paced crawl: plan structure is invariant in the rate table's host cardinality") {
    // CrawlConfig.hostRpsTable must reach tasks via the bucket-co-located
    // rate plane (one upfront partitionBy, then zipPartitions per wave) —
    // never via a driver map in task closures. The observable pin: the
    // crawl's STAGE COUNT is identical for a 16-host and a 50,000-host
    // rate table (an O(hosts) driver structure would not change stages
    // either, but a per-wave join/shuffle of the table would), and crawl
    // results are byte-identical to the small-table run.
    import graft.engine._
    import graft.fetch.SyntheticSite
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val site = SyntheticSite(nHosts = 3, basePagesPerHost = 4, branching = 2, hotFactor = 2)
    val parsers: Map[String, PageParser] = Map("follow_links" -> FollowAllLinks)
    val realHosts = (0 until 3).map(h => graft.urls.UrlCanon.hostOf(
      graft.urls.UrlCanon.canonicalize(site.pageUrl(h, 0))))
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    def crawl(tag: String, fillerHosts: Int): (Int, Long, Long) = {
      val filler = spark.range(fillerHosts).select(
        concat(lit("filler-"), col("id")).as("host"), lit(4.0).as("rps"))
      val plane = realHosts.map(h => (h, 2.0)).toDF("host", "rps").union(filler)
      val cfg = CrawlConfig(checkpointDir = graft.SparkTestSession.tmpDir(tag),
        hostBuckets = 4, fetchPartitions = 2, politenessRps = 8.0,
        hostRpsTable = Some(plane))
      spark.sparkContext.addSparkListener(l)
      stages.set(0)
      val engine = new WaveEngine(spark, site, parsers, cfg)
      val res = engine.run((0 until 3).map(h => SeedSpec(site.pageUrl(h, 0))))
      Thread.sleep(800)
      spark.sparkContext.removeSparkListener(l)
      (stages.get(), res.fetched, res.seen)
    }
    val (stagesSmall, fetchedSmall, seenSmall) = crawl("rate-small", 16)
    val (stagesBig, fetchedBig, seenBig) = crawl("rate-big", 50000)
    assert(fetchedSmall == fetchedBig && seenSmall == seenBig)
    assert(stagesSmall == stagesBig,
      s"stage count must not depend on rate-table size: $stagesSmall vs $stagesBig")
  }

  test("interleaved lang profile: one combinable aggregate exchange, no join, span text dies at its scan") {
    import org.apache.spark.sql.functions._
    val spans = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("offset", "tok")))
      .select(col("doc_id"), col("offset").cast("long").as("offset"),
        when(col("offset") % 5 === 0, lit("media")).otherwise(lit("text")).as("kind"),
        col("tok").as("text"))
    val p = executed(graft.ops.TextStats.interleavedLangProfile(spans, "doc_id",
      Seq("en" -> Seq("the", "of"), "de" -> Seq("der", "und"))))
    val names = treeNames(p)
    assert(!names.exists(_.contains("Join")), names.distinct)
    val sc = shuffleCols(p)
    assert(sc.size == 1, sc)            // the per-doc groupBy, nothing else
    assert(sc.head.forall(c => c != "text" && c != "tok"), sc) // partial-agg rows only
    // partial aggregation must sit below the exchange (map-side combine)
    assert(collectNodes(p).count(_.nodeName.contains("HashAggregate")) >= 2,
      names.distinct)
  }

  test("q05 ordered concat: a line number outside 1..7 or a digit in a flag fails by name") {
    import spark.implicits._
    def q05(rows: Seq[(Long, Int, String)]): Seq[(Long, String, Long)] = {
      val dir = SparkTestSession.tmpDir("q05")
      rows.toDF("l_orderkey", "l_linenumber", "l_returnflag").write.parquet(s"$dir/lineitem.parquet")
      graft.SparkEntry.queries("q05_ordered_concat")(spark, dir).as[(Long, String, Long)].collect().toSeq
    }
    // in bounds: (line number, flag) order, a null flag skipped as string_agg skips it
    assert(q05(Seq((1L, 3, "R"), (1L, 1, "N"), (1L, 2, null), (2L, 7, "AB"), (2L, 7, "A"))) ==
      Seq((1L, "NR", 3L), (2L, "AAB", 2L)))
    for (bad <- Seq(Seq((1L, 8, "N")), Seq((1L, 0, "N")), Seq((1L, 1, "N2")))) {
      val err = intercept[Exception](q05(bad))
      assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
        .exists(t => t.getMessage != null && t.getMessage.contains("q05_ordered_concat")), err)
    }
  }
}
