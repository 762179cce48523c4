package graft.model

/**
 * Core data model of the engine.
 *
 * The canonical input/fetched-page representation is the interleaved
 * text+media span document (per BASELINE.json `input_hint`):
 * `documents(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
 *
 * This is the Spark-native encoding of what a Scrapy `response` + XPath
 * selectors provide in the reference (see SURVEY.md §1.3): text nodes in
 * document order, `<a>` text+href pairs, `<img src>`, table cells, embedded
 * JSON blocks. The per-row oracle invariant versus the reference is
 * span-sequence equality on (kind, text, media_ref, order).
 */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object SpanKind {
  val Text = "text"
  val Link = "link"
  val Media = "media"
  val TableCell = "table_cell"
  val Title = "title"
  val Json = "json"
  val Caption = "caption" // table caption / h2-h4 section headers
}

final case class Document(doc_id: String, spans: Seq[Span])

/**
 * A frontier row: one pending (or fetched) crawl request.
 *
 * Mirrors what the reference carries per Scrapy Request: url, callback
 * (`parse_fn`), meta dict, priority (always 0 in the reference — see
 * /root/reference/crawler/settings.py which never sets priority).
 *
 *  - `canonical` / `url_hash`: RFC-3986-normalized form and its xxhash64,
 *    the dedup key (Scrapy's request fingerprint analogue).
 *  - `host_bucket`: hash-partitioning bucket of the host; all politeness
 *    accounting for a host happens within one bucket/partition.
 *  - `is_seed`: start-request flag. Scrapy consumes start requests lazily,
 *    in listed order, only when the scheduler queue is drained; follow-ups
 *    go through a LIFO queue. We reproduce that in `reference-order` mode.
 *  - `wave`: the engine iteration in which the row was enqueued.
 *  - `seq`: global monotonically increasing discovery sequence (ties broken
 *    by it: LIFO pops max seq).
 */
final case class UrlRecord(
    url: String,
    canonical: String,
    url_hash: Long,
    host: String,
    host_bucket: Int,
    parse_fn: String,
    meta: Map[String, String],
    priority: Int,
    is_seed: Boolean,
    wave: Int,
    seq: Long)

/** Result of fetching one frontier row. `doc` is None on HTTP error.
  *
  * Two timestamps, deliberately distinct (S11 vs politeness/goldens):
  *  - `fetched_at_ms` is the POLITENESS-PLAN time — in realtime mode the
  *    actual wall-clock fetch moment, in simulated mode the deterministic
  *    planned slot time (wave-indexed; may lie in the future relative to
  *    the wall clock when the crawl runs faster than one wave per second).
  *    Ordering tests and goldens read this.
  *  - `stored_at_ms` is the ACTUAL wall-clock time the row was produced,
  *    in both modes. The S11 fetch-cache TTL cutoff compares against this
  *    (the reference's cache keys on real fetch time,
  *    /root/reference/crawler/settings.py:84-86); comparing the planned
  *    stamp against a wall-clock cutoff let a "stale" cache serve
  *    future-dated rows as fresh. */
final case class FetchResult(
    url: String,
    canonical: String,
    url_hash: Long,
    host: String,
    host_bucket: Int,
    parse_fn: String,
    meta: Map[String, String],
    wave: Int,
    seq: Long,
    status: Int,
    from_cache: Boolean,
    fetched_at_ms: Long,
    stored_at_ms: Long,
    slot: Int, // politeness slot within (host, wave): per-host fetch order
    partition_id: Int, // executing partition — per-partition lineage
    doc_id: String,
    spans: Seq[Span],
    // interleaved-payload binary plane: set only on media fetches
    // (parse_fn = "media"), null on page rows — parquet stores the null
    // columns for free and the span plane is untouched
    media_type: String = null,
    media_bytes: Array[Byte] = null) {
  def document: Document = Document(doc_id, spans)
  def ok: Boolean = status >= 200 && status < 300
}

/** A fetched binary media object (image/PDF/audio referenced by a `media`
  * span). Bytes stay executor-side: they ride the fetched table and the
  * content-addressed store, never the driver. */
final case class MediaBlob(content_type: String, bytes: Array[Byte])

/** A follow-up emission from a parse callback (reference: `response.follow`,
  * e.g. /root/reference/crawler/spiders/shugiin_spider.py:46-49). */
final case class FollowUp(
    url: String,
    parse_fn: String,
    meta: Map[String, String] = Map.empty,
    priority: Int = 0)

/** Per-partition crawl lineage + metrics (north rule: resumable with
  * per-partition lineage + metrics). */
final case class Lineage(
    wave: Int,
    partition: Int,
    in_count: Long,
    fetched: Long,
    deduped: Long,
    parsed: Long,
    errors: Long,
    followups: Long)

/** Exact URL-seen table row (one mark of the durable seen changelog). */
final case class SeenRow(url_hash: Long, canonical: String, host_bucket: Int, wave: Int)

/** Cursor state for sequential-id / paginated API sources (reference:
  * `nextRecordPosition` cursor /root/reference/crawler/spiders/minutes_spider.py:90-92,
  * sequential ids sangiin_tv_spider.py:17-29). */
final case class CursorRow(source: String, next_pos: Long, consecutive_failures: Int)

// --------------------------------------------------------------------------
// Entity graph (reference builders: /root/reference/crawler/utils/graphql.py:36-125).
// Deterministic IDs from key fields; optional attributes → Option fields.
// --------------------------------------------------------------------------

final case class Bill(
    id: String,
    bill_number: String,
    name: Option[String] = None,
    category: Option[String] = None, // BillCategory: KAKUHOU | SHUHOU | SANHOU
    diet_number: Option[Int] = None,
    submission_number: Option[Int] = None,
    reason: Option[String] = None,
    supported_groups: Seq[String] = Nil,
    opposed_groups: Seq[String] = Nil)

/** Bill lifecycle fields scraped from a sangiin 議案情報 (meisai) page —
  * the reference sets these directly on Bill
  * (/root/reference/crawler/spiders/sangiin_spider.py:119-236); kept as a
  * separate row type here so the MERGE into the bills dim stays a plain
  * partial-field upsert (K1). `committee_names` / `submitter_text` carry
  * the raw scrapes for the R9/R8 joins on the Dataset plane. */
final case class BillMeisai(
    bill_id: String,
    submitted_date: Option[java.sql.Timestamp] = None,
    passed_councilors_committee_date: Option[java.sql.Timestamp] = None,
    passed_councilors_date: Option[java.sql.Timestamp] = None,
    passed_representatives_committee_date: Option[java.sql.Timestamp] = None,
    passed_representatives_date: Option[java.sql.Timestamp] = None,
    proclaimed_date: Option[java.sql.Timestamp] = None,
    first_house: Option[String] = None,
    is_passed: Boolean = false,
    committee_names: Seq[String] = Nil,
    submitter_text: Option[String] = None)

final case class Minutes(
    id: String,
    name: String,
    start_date_time: java.sql.Timestamp,
    ndl_min_id: Option[String] = None,
    ndl_url: Option[String] = None,
    topics: Seq[String] = Nil,
    topic_ids: Seq[String] = Nil,
    speakers: Seq[String] = Nil,
    speaker_ids: Seq[String] = Nil)

final case class Speech(
    id: String,
    minutes_id: String,
    order_in_minutes: Int,
    speaker_name: Option[String] = None,
    member_id: Option[String] = None,
    ndl_url: Option[String] = None)

final case class Member(
    id: String,
    name: String,
    house: Option[String] = None, // REPRESENTATIVES | COUNCILORS
    group: Option[String] = None, // ParliamentaryGroup
    first_name: Option[String] = None,
    last_name: Option[String] = None,
    first_name_hira: Option[String] = None,
    last_name_hira: Option[String] = None,
    tags: Seq[String] = Nil,
    description: Option[String] = None,
    image: Option[String] = None)

final case class Committee(
    id: String,
    name: String,
    house: Option[String] = None,
    num_members: Option[Int] = None,
    topics: Seq[String] = Nil)

final case class Diet(id: String, number: Int, start_date: java.sql.Timestamp)

final case class Activity(
    id: String,
    member_id: String,
    minutes_id: Option[String] = None,
    bill_id: Option[String] = None,
    datetime: java.sql.Timestamp,
    // R26: top-3 keyphrases of the member's joined speech, opt-in
    // (minutes_spider.py:29-33,159-160)
    keyphrases: Seq[String] = Nil)

final case class BillAction(
    id: String,
    bill_id: String,
    minutes_id: String,
    speech_id: String,
    bill_action_type: String) // BILL_EXPLANATION | QUESTION | VOTE | ...

final case class UrlEntity(
    id: String,
    url: String,
    title: String, // UrlTitle enum as string
    domain: String,
    to_id: String)

final case class News(
    id: String,
    url: String,
    title: Option[String] = None,
    publisher: Option[String] = None,
    published_at: Option[java.sql.Timestamp] = None,
    last_modified_at: Option[java.sql.Timestamp] = None,
    thumbnail: Option[String] = None,
    is_paid: Option[Boolean] = None)

final case class Edge(from_id: String, to_id: String)

/** Long-text documents (the reference's Elasticsearch indices become plain
  * tables — /root/reference/crawler/utils/elasticsearch.py). */
final case class DocText(
    id: String,
    kind: String, // bill | minutes | speech | member | news
    title: Option[String] = None,
    body: Option[String] = None,
    supplement: Option[String] = None,
    reason: Option[String] = None,
    speaker: Option[String] = None,
    date: Option[String] = None)
