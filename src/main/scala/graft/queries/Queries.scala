package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The engine's operator inventory exposed as named queries over the
 * driver-provided parquet tables (TESTDATA.md), each with an equivalent
 * ANSI-SQL oracle the driver executes in DuckDB (CORRECTNESS gate).
 *
 * Conventions (the driver hash-compares after sorting columns by name):
 *  - column names identical on both sides;
 *  - every query ends with a deterministic ORDER BY on a unique key;
 *  - numeric outputs cast to bigint/double explicitly on both sides;
 *  - float aggregates rounded to fixed decimals on both sides.
 *
 * Crawl-shaped inputs (URLs, span documents, speeches) are synthesized
 * deterministically from the `documents` table *inside the query* with
 * arithmetic expressible in both engines — no external data, per
 * BASELINE.json.
 */
object Queries {

  final case class Q(
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      doc: String)

  /** Scratch root for the stateful-sink queries (snapshot tables live
    * here for the query's duration): prefers tmpfs (/dev/shm) over the
    * default tmp dir — this box's virtio /tmp measured ~3× slower for
    * snapshot write+read-back traffic, the same reason Bench puts
    * spark.local.dir on tmpfs (a production cluster provisions NVMe).
    * Leftovers are MB-scale per run and the sandbox is ephemeral. */
  private[queries] def scratchDir(prefix: String): String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val base = new java.io.File(shm, "graft-query-scratch")
      base.mkdirs()
      java.nio.file.Files.createTempDirectory(base.toPath, prefix).toString
    } else java.nio.file.Files.createTempDirectory(prefix).toString
  }

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Tokenization shared by the span-synthesis queries (same regex both
    * engines): whitespace split of trimmed text. */
  private def toks: Column = split(trim(col("text")), "\\s+")

  // ====================================================================
  // relational core (R1-R25 analogues on the TPC-H-ish tables)
  // ====================================================================

  val defs: Map[String, Q] = Map(

    // R12-ish aggregation with map-side partial agg; filter pushdown
    "q01_agg_sums" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"),
          round(avg(col("l_discount")), 4).as("avg_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(sum(l_quantity), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_price,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS n
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "groupBy aggregation (SURVEY R12/R13 analogue)"),

    // predicate pushdown + projection pruning + global top-k
    "q02_filter_topk" -> Q(
      (s, d) => t(s, d, "lineitem")
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, l_extendedprice
             |FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
             |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin),
      "filter pushdown + top-k (SURVEY R17/R18)"),

    // broadcast-join chain + aggregation (Finder lookup-join analogue R6-R11)
    "q03_join_agg" -> Q(
      (s, d) => t(s, d, "orders").as("o")
        .join(broadcast(t(s, d, "customer").as("c")), col("o.o_custkey") === col("c.c_custkey"))
        .join(broadcast(t(s, d, "nation").as("n")), col("c.c_nationkey") === col("n.n_nationkey"))
        .join(broadcast(t(s, d, "region").as("r")), col("n.n_regionkey") === col("r.r_regionkey"))
        .groupBy(col("r.r_name"), col("n.n_name"))
        .agg(round(sum(col("o.o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .orderBy(col("r_name"), col("n_name")),
      Some("""SELECT r_name, n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      "broadcast lookup-join chain (SURVEY R6-R11)"),

    // order-preserving first-occurrence dedup via window (SURVEY R15)
    "q04_window_dedup" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("event_type")).agg(count(lit(1)).as("n_first"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, count(*) AS n_first FROM (
             |  SELECT event_type, row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
             |  FROM events) WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
      "first-occurrence dedup via row_number (SURVEY R15)"),

    // order-sensitive grouped concat (SURVEY R12/R13 — speeches in order)
    // Sort key packed as a 2-char string "<digit><flag>" instead of a
    // struct: TPC-H pins l_linenumber to 1..7 (single digit) and
    // l_returnflag to one non-digit char, so lexicographic string order
    // IS (l_linenumber, l_returnflag) order, sort_array compares native
    // UTF8 strings (the old array_sort default comparator + transform
    // lambda were both interpreted per element — the dominant cost of
    // this query), and translate() strips the order digits in one
    // codegen'd pass over the already-concatenated result. A row outside
    // those bounds (a line number not in 1..7, a flag holding one of the
    // digits) would sort or strip wrongly, so it fails the query by name
    // inside the same expression: no extra pass, no extra job.
    "q05_ordered_concat" -> Q(
      (s, d) => t(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(
          translate(
            array_join(sort_array(collect_list(
              when(col("l_linenumber").between(1, 7) &&
                  (col("l_returnflag") <=> translate(col("l_returnflag"), "1234567", "")),
                concat(col("l_linenumber").cast("string"), col("l_returnflag")))
                .otherwise(raise_error(lit("q05_ordered_concat: the packed sort key needs " +
                  "l_linenumber in 1..7 and an l_returnflag without the digits 1-7"))))), ""),
            "1234567", "").as("flags"),
          count(lit(1)).cast("long").as("n_lines"))
        .orderBy(col("l_orderkey")),
      Some("""SELECT l_orderkey, string_agg(l_returnflag, '' ORDER BY l_linenumber, l_returnflag) AS flags,
             |  count(*) AS n_lines
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      "ordered collect + concat per group (SURVEY R12/R13)"),

    // key-value pivot via conditional aggregation (SURVEY R5)
    "q06_pivot_condagg" -> Q(
      (s, d) => t(s, d, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_click"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n_view"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
          round(sum(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0))), 3).as("purchase_value"))
        .orderBy(col("user_id")),
      Some("""SELECT user_id,
             |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
             |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
             |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
             |  round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 3) AS purchase_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      "key-value table pivot (SURVEY R5)"),

    // per-group top-k via window (SURVEY R16-R18)
    "q07_topk_per_group" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(s, d, "orders")
          .withColumn("rk", row_number().over(w).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("o_orderpriority"), col("rk"), col("o_orderkey"), col("o_totalprice"))
          .orderBy(col("o_orderpriority"), col("rk"))
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
             |  SELECT o_orderpriority, o_orderkey, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk
             |  FROM orders) WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin),
      "top-k per group (SURVEY R16-R18)"),

    // union + distinct (SURVEY R21/R14)
    "q08_union_distinct" -> Q(
      (s, d) => t(s, d, "orders").select(col("o_custkey").as("k"))
        .unionByName(t(s, d, "customer").select(col("c_custkey").as("k")))
        .distinct()
        .agg(count(lit(1)).as("n_distinct"), sum(col("k")).as("sum_k")),
      Some("""SELECT count(*) AS n_distinct, CAST(sum(k) AS BIGINT) AS sum_k FROM (
             |  SELECT o_custkey AS k FROM orders UNION SELECT c_custkey AS k FROM customer)""".stripMargin),
      "union + distinct (SURVEY R21/R14)"),

    // positional zip of parallel lists (SURVEY R23)
    "q09_zip_pos" -> Q(
      (s, d) => t(s, d, "part")
        .select(col("p_partkey"), posexplode(split(col("p_name"), " ")).as(Seq("pos", "word")))
        .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("word"))
        .orderBy(col("p_partkey"), col("pos")),
      Some("""SELECT p_partkey, CAST(pos - 1 AS BIGINT) AS pos, word FROM (
             |  SELECT p_partkey, unnest(string_split(p_name, ' ')) AS word,
             |         generate_subscripts(string_split(p_name, ' '), 1) AS pos
             |  FROM part) ORDER BY p_partkey, pos""".stripMargin),
      "posexplode zip-join (SURVEY R23)"),

    // semi/anti join existence gates (SURVEY K4)
    "q10_semi_anti" -> Q(
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("with_orders"))
        val noOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("kind", lit("no_orders"))
        withOrders.unionByName(noOrders).select(col("kind"), col("n")).orderBy(col("kind"))
      },
      Some("""SELECT kind, n FROM (
             |  SELECT 'with_orders' AS kind, count(*) AS n FROM customer
             |    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |  UNION ALL
             |  SELECT 'no_orders' AS kind, count(*) AS n FROM customer
             |    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
             |) ORDER BY kind""".stripMargin),
      "semi/anti existence gates (SURVEY K4)"),

    // ==================================================================
    // crawl-shaped: URL canonicalization / dedup / scheduling
    // ==================================================================

    // E2 + dupefilter canonicalization on synthesized messy URLs
    "q11_url_canonicalize" -> Q(
      (s, d) => {
        // native codegen'd expression (graft.functions.CanonicalizeUrl) —
        // round 1 used a Scala UDF, which breaks whole-stage codegen
        t(s, d, "documents")
          .select(col("doc_id"),
            concat(lit("HTTP://Host"), (col("doc_id") % 7).cast("string"),
              lit(".Example.JP:80/a/./b/../c"), (col("doc_id") % 13).cast("string"),
              lit("?b=2&a=1#frag")).as("url"))
          .withColumn("canonical", graft.functions.UrlFns.canonicalizeUrl(col("url")))
          .select(col("doc_id"), col("canonical"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  'http://host' || (doc_id % 7) || '.example.jp/a/c' || (doc_id % 13) || '?a=1&b=2' AS canonical
             |FROM documents ORDER BY doc_id""".stripMargin),
      "RFC 3986 canonicalization (north star; SURVEY §4 'URL canonicalization')"),

    // URL-seen first-discovery-wins (dupefilter semantics)
    "q12_urlseen_firstwins" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val urls = t(s, d, "documents").select(col("doc_id"),
          concat(lit("http://h"), (col("doc_id") % 50).cast("string"),
            lit(".example.jp/p"), (col("doc_id") % 97).cast("string")).as("canonical"))
        val w = Window.partitionBy(col("canonical")).orderBy(col("doc_id"))
        urls.withColumn("rn", row_number().over(w))
          .groupBy(col("canonical"))
          .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("n_discoveries"))
          .orderBy(col("canonical"))
      },
      Some("""SELECT 'http://h' || (doc_id % 50) || '.example.jp/p' || (doc_id % 97) AS canonical,
             |  min(doc_id) AS first_doc, count(*) AS n_discoveries
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin),
      "URL-seen dedup, first discovery wins (SURVEY §2.1 dupefilter)"),

    // frontier priority-queue ordering (priority desc, then discovery seq).
    // Top-k FIRST via orderBy+limit — Spark plans it as TakeOrderedAndProject
    // (per-partition heaps + driver merge, distributed); the rank window then
    // runs over only the k survivors. A corpus-wide partitionless row_number
    // (the naive form) would drag the whole table into ONE partition.
    "q13_frontier_order" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.orderBy(col("priority").desc, col("seq"))
        t(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 3).cast("long").as("priority"),
            col("doc_id").as("seq"))
          .orderBy(col("priority").desc, col("seq")).limit(100)
          .withColumn("pop_rank", row_number().over(w).cast("long"))
          .select(col("pop_rank"), col("doc_id"), col("priority"))
          .orderBy(col("pop_rank"))
      },
      Some("""SELECT pop_rank, doc_id, priority FROM (
             |  SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS priority,
             |    CAST(row_number() OVER (ORDER BY (doc_id % 3) DESC, doc_id) AS BIGINT) AS pop_rank
             |  FROM documents) WHERE pop_rank <= 100 ORDER BY pop_rank""".stripMargin),
      "priority-queue pop order (SURVEY §2.5 ordering contract)"),

    // per-host politeness slot assignment (1 rps token bucket plan)
    "q14_politeness_plan" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("host")).orderBy(col("doc_id"))
        t(s, d, "documents")
          .select(col("doc_id"), concat(lit("h"), (col("doc_id") % 20).cast("string")).as("host"))
          .withColumn("slot", (row_number().over(w) - 1).cast("long"))
          .withColumn("fetch_at_ms", col("slot") * 1000L)
          .orderBy(col("host"), col("slot"))
      },
      Some("""SELECT doc_id, host, slot, slot * 1000 AS fetch_at_ms FROM (
             |  SELECT doc_id, 'h' || (doc_id % 20) AS host,
             |    CAST(row_number() OVER (PARTITION BY ('h' || (doc_id % 20)) ORDER BY doc_id) - 1 AS BIGINT) AS slot
             |  FROM documents) ORDER BY host, slot""".stripMargin),
      "per-host politeness scheduling (SURVEY S10, settings.py:23,28)"),

    // ==================================================================
    // span documents (input_hint shape) + extraction ops
    // ==================================================================

    // build the interleaved text+media span table and explode it
    "q15_spans_explode" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), posexplode(toks).as(Seq("offset", "tok")))
        .select(
          col("doc_id"),
          col("offset").cast("long").as("offset"),
          when(col("offset") % 5 === 0, lit("link")).otherwise(lit("text")).as("kind"),
          col("tok").as("text"),
          when(col("offset") % 5 === 0,
            concat(lit("http://m.example.jp/"), length(col("tok")).cast("string"),
              lit("/"), col("offset").cast("string"))).otherwise(lit("")).as("media_ref"))
        .orderBy(col("doc_id"), col("offset")),
      Some("""SELECT doc_id, CAST(pos - 1 AS BIGINT) AS "offset",
             |  CASE WHEN (pos - 1) % 5 = 0 THEN 'link' ELSE 'text' END AS kind,
             |  tok AS text,
             |  CASE WHEN (pos - 1) % 5 = 0
             |    THEN 'http://m.example.jp/' || length(tok) || '/' || (pos - 1) ELSE '' END AS media_ref
             |FROM (
             |  SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok,
             |    generate_subscripts(string_split_regex(trim(text), '\s+'), 1) AS pos
             |  FROM documents) ORDER BY doc_id, "offset"""".stripMargin),
      "interleaved text+media span table (input_hint shape, SURVEY §1.3)"),

    // E1: first text span per document
    "q16_extract_text" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          element_at(filter(toks, (tok, i) => i % 5 =!= 0), 1).as("first_text"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  list_filter(string_split_regex(trim(text), '\s+'), (t, i) -> (i - 1) % 5 <> 0)[1] AS first_text
             |FROM documents ORDER BY doc_id""".stripMargin),
      "extract_text: first text node (SURVEY E1, scrape.py:9-10)"),

    // E3: all link hrefs of a document, joined
    "q17_extract_links" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          array_join(transform(
            filter(transform(toks, (tok, i) => struct(tok.as("t"), i.as("i"))),
              x => x.getField("i") % 5 === 0),
            x => concat(lit("http://m.example.jp/"),
              length(x.getField("t")).cast("string"), lit("/"),
              x.getField("i").cast("string"))), ",").as("links"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, array_to_string(
             |  list_transform(
             |    list_filter(list_zip(ts, generate_series(0, len(ts) - 1)), x -> x[2] % 5 = 0),
             |    x -> 'http://m.example.jp/' || length(x[1]) || '/' || x[2]), ',') AS links
             |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents)
             |ORDER BY doc_id""".stripMargin),
      "extract_full_href_list (SURVEY E2/E3, scrape.py:13-26)"),

    // E9: clean_speech — drop first token, join rest with no separator
    "q18_clean_speech" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          concat_ws("", slice(toks, 2, 1000000)).as("cleaned"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  array_to_string(list_slice(string_split_regex(trim(text), '\s+'), 2, 1000000), '') AS cleaned
             |FROM documents ORDER BY doc_id""".stripMargin),
      "clean_speech (SURVEY E9, common.py:9-10)"),

    // E6/E22: regex datetime extraction from synthesized Japanese dates
    "q19_extract_datetime" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          concat(lit("第"), (col("doc_id") % 204).cast("string"), lit("回国会"),
            ((col("doc_id") % 12) + 1).cast("string"), lit("月"),
            ((col("doc_id") % 28) + 1).cast("string"), lit("日ニュース")).as("title"))
        .select(col("doc_id"),
          regexp_extract(col("title"), "(\\d+)月(\\d+)日", 1).cast("long").as("month"),
          regexp_extract(col("title"), "(\\d+)月(\\d+)日", 2).cast("long").as("day"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(regexp_extract('第' || (doc_id % 204) || '回国会' || ((doc_id % 12) + 1) || '月' ||
             |    ((doc_id % 28) + 1) || '日ニュース', '(\d+)月(\d+)日', 1) AS BIGINT) AS month,
             |  CAST(regexp_extract('第' || (doc_id % 204) || '回国会' || ((doc_id % 12) + 1) || '月' ||
             |    ((doc_id % 28) + 1) || '日ニュース', '(\d+)月(\d+)日', 2) AS BIGINT) AS day
             |FROM documents ORDER BY doc_id""".stripMargin),
      "regex datetime extraction (SURVEY E6/E22)"),

    // ==================================================================
    // training-data pipeline ops over documents
    // ==================================================================

    // token counting + char stats
    "q20_token_count" -> Q(
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          length(trim(col("text"))).cast("long").as("n_chars_trim"),
          size(array_distinct(toks)).cast("long").as("n_unique_tokens"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             |  CAST(length(trim(text)) AS BIGINT) AS n_chars_trim,
             |  CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_unique_tokens
             |FROM documents ORDER BY doc_id""".stripMargin),
      "token counting (training-data op)"),

    // quality scoring: stopword ratio / uniqueness / mean token length
    "q21_quality_score" -> Q(
      (s, d) => {
        val stop = array(Seq("a", "the", "of", "and", "to", "in", "is").map(lit): _*)
        t(s, d, "documents")
          .select(col("doc_id"), toks.as("ts"))
          .select(col("doc_id"),
            round(size(filter(col("ts"), x => array_contains(stop, x))).cast("double") /
              size(col("ts")).cast("double"), 4).as("stopword_ratio"),
            round(size(array_distinct(col("ts"))).cast("double") /
              size(col("ts")).cast("double"), 4).as("uniq_ratio"),
            round(aggregate(col("ts"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
              size(col("ts")).cast("double"), 4).as("mean_tok_len"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
             |  round(CAST(len(list_filter(ts, x -> x IN ('a','the','of','and','to','in','is'))) AS DOUBLE)
             |    / len(ts), 4) AS stopword_ratio,
             |  round(CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts), 4) AS uniq_ratio,
             |  round(CAST(list_reduce(list_prepend(0, list_transform(ts, x -> length(x))), (a, b) -> a + b) AS DOUBLE)
             |    / len(ts), 4) AS mean_tok_len
             |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents)
             |ORDER BY doc_id""".stripMargin),
      "quality scoring: stopword/uniqueness/length (training-data op)"),

    // exact dedup by content hash-group (here: by text itself — exact)
    "q22_dedup_exact" -> Q(
      (s, d) => t(s, d, "documents")
        .groupBy(col("text").as("content"))
        .agg(min(col("doc_id")).as("canonical_doc"), count(lit(1)).as("n_copies"))
        .select(col("canonical_doc"), col("n_copies"))
        .orderBy(col("canonical_doc")),
      Some("""SELECT min(doc_id) AS canonical_doc, count(*) AS n_copies
             |FROM documents GROUP BY text ORDER BY 1""".stripMargin),
      "exact dedup: group by content, keep first (training-data op)"),

    // n-gram Jaccard near-dup pairs (word 3-grams, threshold 0.25) over
    // RARE shingles: shingles with document frequency > 64 are dropped
    // before the posting-list self-join (mirrored in the oracle). A shingle
    // in f documents emits f² join rows, so one hot boilerplate 3-gram
    // otherwise dominates the whole job at scale (the r2 bench's 14 s
    // worst case); hot shingles also carry ~no near-dup signal. Jaccard is
    // computed over the capped sets on BOTH sides (sizes too).
    "q23_ngram_jaccard" -> Q(
      // shingle identity = 64-bit xxhash of the n-gram (native codegen'd
      // XxShingleHashes, distinct per doc) — intersection counts equal
      // the oracle's string-shingle counts absent a 64-bit collision
      // (P < 1e-7 at these corpus sizes); the self-join shuffles 8-byte
      // keys instead of n-gram strings. The dataflow lives in
      // Dedup.ngramJaccardPairs (library surface), df-cap mirrored in
      // the oracle's QUALIFY.
      (s, d) => graft.ops.Dedup.ngramJaccardPairs(
          t(s, d, "documents"), "doc_id", "text", threshold = 0.25, maxDf = 64)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH sh0 AS (
             |  SELECT doc_id, unnest(list_distinct(list_filter(
             |    list_transform(ts, (x, i) -> CASE WHEN i + 2 <= len(ts) THEN x || ' ' || ts[i+1] || ' ' || ts[i+2] END),
             |    s -> s IS NOT NULL))) AS sh
             |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts FROM documents)),
             |sh AS (
             |  SELECT doc_id, sh FROM sh0
             |  QUALIFY count(*) OVER (PARTITION BY sh) <= 64),
             |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
             |pairs AS (
             |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS inter
             |  FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
             |FROM pairs JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
             |WHERE round(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) >= 0.25
             |ORDER BY doc_a, doc_b""".stripMargin),
      "rare-shingle (df<=64) n-gram Jaccard near-dup join (training-data op)"),

    // MERGE-style upsert semantics (SURVEY K1): full-outer coalesce
    "q24_merge_upsert" -> Q(
      (s, d) => {
        val current = t(s, d, "customer")
          .filter(col("c_custkey") % 3 =!= 0)
          .select(col("c_custkey").as("id"), col("c_name").as("name"), col("c_acctbal").as("bal"))
        val updates = t(s, d, "customer")
          .filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("id"), col("c_name").as("name"),
            (col("c_acctbal") + 100.0).as("bal"))
        current.as("c").join(updates.as("u"), Seq("id"), "full_outer")
          .select(col("id"),
            coalesce(col("u.name"), col("c.name")).as("name"),
            coalesce(col("u.bal"), col("c.bal")).as("bal"))
          .orderBy(col("id"))
      },
      Some("""WITH current AS (
             |  SELECT c_custkey AS id, c_name AS name, c_acctbal AS bal
             |  FROM customer WHERE c_custkey % 3 <> 0),
             |updates AS (
             |  SELECT c_custkey AS id, c_name AS name, c_acctbal + 100.0 AS bal
             |  FROM customer WHERE c_custkey % 2 = 0)
             |SELECT COALESCE(u.id, c.id) AS id,
             |  COALESCE(u.name, c.name) AS name,
             |  COALESCE(u.bal, c.bal) AS bal
             |FROM current c FULL OUTER JOIN updates u ON c.id = u.id
             |ORDER BY id""".stripMargin),
      "MERGE upsert by id, partial-field coalesce (SURVEY K1)")
  )

  def allDefs: Map[String, Q] = defs ++ QueriesB.defs ++ QueriesC.defs ++ QueriesD.defs ++ QueriesE.defs ++ QueriesF.defs ++ QueriesG.defs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { case (k, q) => k -> q.run }

  def oracleSql: Map[String, String] =
    allDefs.collect { case (k, Q(_, Some(sql), _)) => k -> sql }
}
