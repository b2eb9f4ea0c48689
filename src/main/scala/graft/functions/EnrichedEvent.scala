package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The Snowplow enriched-event TSV format (reference SURVEY §1.2 #3): a
  * 131-column tab-separated line whose field list is the public atomic
  * event schema (reference fixture `BatchSpec.scala:178-310`, app_id …
  * true_tstamp; `collector_tstamp` at index 3 = `StatsD.scala:19`).
  * The reference engine only ever reads column 3; a reference USER has
  * the whole line — this module parses it into a typed frame so the
  * enriched stream is queryable, not just loadable.
  *
  * Parse is TOTAL and pure-column: `split` + `element_at` (NOT
  * `from_csv`, whose quote handling would mangle the embedded JSON
  * columns), `try_to_timestamp`/`try_cast` for the typed accessors —
  * a malformed line yields nulls, never an exception (the pipeline's
  * degrade-gracefully contract).
  */
object EnrichedEvent {

  /** All 131 field names in wire order. */
  val fieldNames: Seq[String] = Seq(
    "app_id", "platform", "etl_tstamp", "collector_tstamp",
    "dvce_created_tstamp", "event", "event_id", "txn_id",
    "name_tracker", "v_tracker", "v_collector", "v_etl",
    "user_id", "user_ipaddress", "user_fingerprint", "domain_userid",
    "domain_sessionidx", "network_userid", "geo_country", "geo_region",
    "geo_city", "geo_zipcode", "geo_latitude", "geo_longitude",
    "geo_region_name", "ip_isp", "ip_organization", "ip_domain",
    "ip_netspeed", "page_url", "page_title", "page_referrer",
    "page_urlscheme", "page_urlhost", "page_urlport", "page_urlpath",
    "page_urlquery", "page_urlfragment", "refr_urlscheme", "refr_urlhost",
    "refr_urlport", "refr_urlpath", "refr_urlquery", "refr_urlfragment",
    "refr_medium", "refr_source", "refr_term", "mkt_medium",
    "mkt_source", "mkt_term", "mkt_content", "mkt_campaign",
    "contexts", "se_category", "se_action", "se_label",
    "se_property", "se_value", "unstruct_event", "tr_orderid",
    "tr_affiliation", "tr_total", "tr_tax", "tr_shipping",
    "tr_city", "tr_state", "tr_country", "ti_orderid",
    "ti_sku", "ti_name", "ti_category", "ti_price",
    "ti_quantity", "pp_xoffset_min", "pp_xoffset_max", "pp_yoffset_min",
    "pp_yoffset_max", "useragent", "br_name", "br_family",
    "br_version", "br_type", "br_renderengine", "br_lang",
    "br_features_pdf", "br_features_flash", "br_features_java", "br_features_director",
    "br_features_quicktime", "br_features_realplayer", "br_features_windowsmedia", "br_features_gears",
    "br_features_silverlight", "br_cookies", "br_colordepth", "br_viewwidth",
    "br_viewheight", "os_name", "os_family", "os_manufacturer",
    "os_timezone", "dvce_type", "dvce_ismobile", "dvce_screenwidth",
    "dvce_screenheight", "doc_charset", "doc_width", "doc_height",
    "tr_currency", "tr_total_base", "tr_tax_base", "tr_shipping_base",
    "ti_currency", "ti_price_base", "base_currency", "geo_timezone",
    "mkt_clickid", "mkt_network", "etl_tags", "dvce_sent_tstamp",
    "refr_domain_userid", "refr_dvce_tstamp", "derived_contexts", "domain_sessionid",
    "derived_tstamp", "event_vendor", "event_name", "event_format",
    "event_version", "event_fingerprint", "true_tstamp")

  val CollectorTstampIdx: Int = 3

  /** `value: string` lines → one string column per field (short rows
    * yield nulls for the missing tail; extra columns are ignored).
    * `try_element_at`, not `element_at`: under ANSI mode the latter
    * throws on a short row, and the parse must be total. */
  def parse(lines: DataFrame, valueCol: String = "value"): DataFrame = {
    val parts = split(col(valueCol), "\t", -1)
    lines.select(fieldNames.zipWithIndex.map { case (n, i) =>
      try_element_at(parts, lit(i + 1)).as(n)
    }: _*)
  }

  /** Typed accessors over the parsed string columns (ANSI-safe: nulls,
    * never exceptions, on malformed input). */
  def tstamp(c: Column): Column = Tstamps.enrichedTstamp(c)
  def asLong(c: Column): Column = c.try_cast("long")
}
