package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Structural URL parsing for web-corpus curation — the columns every
  * pretraining pipeline groups, caps, and mixes by (per-domain caps,
  * domain blocklists, source mixing at the registered-domain level).
  *
  * All columns are built from codegen'd string expressions
  * (`parse_url`, `split`, array ops) — no UDFs — and every derivation
  * is replayable in ANSI-ish SQL for the oracle (the DuckDB spellings
  * live next to the q_url_* queries in graft.queries.TextQueries).
  *
  * Registered-domain extraction ("example.co.uk" from
  * "blog.example.co.uk") runs the standard Public-Suffix-List
  * algorithm ([[Psl]]) inside a scalar Catalyst expression
  * ([[graft.expressions.RegisteredDomain]]): the compiled rule
  * table — wildcards (`*.ck`), exceptions (`!www.ck`) and all —
  * ships with the task closure, and unlisted TLDs fall back to the
  * PSL's own default `*` rule (register at two labels). The shipped
  * default table is the high-mass subset of the published list;
  * `psl_file` on the URL plugins (or a [[Psl.load]]ed `Rules` passed
  * here) swaps in a full copy verbatim.
  */
object Urls {

  /** Common two-level public suffixes — retained for callers that
    * want the cheap membership-list heuristic; [[registeredDomain]]
    * itself now runs the full PSL algorithm over [[Psl.default]]
    * (which contains all of these and more). */
  val twoLevelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "ac.jp",
    "com.br", "com.cn", "com.mx", "com.ar", "com.tr", "com.sg",
    "co.in", "co.kr", "co.za", "co.nz", "com.hk", "com.tw")

  /** Host → registered domain (eTLD+1 under the PSL `rules`).
    * Literal-address hosts — IPv4 dotted quads and (bracketed or
    * bare) IPv6 — have no label structure, so the host IS the
    * "domain": the label rule would otherwise collapse every IP
    * sharing its last two octets into one pseudo-domain ("0.1") and
    * a per-domain cap would balance unrelated hosts together. Hosts
    * that ARE a public suffix likewise map to themselves (their own
    * cap group), a deliberate divergence from the strict published
    * algorithm's "undefined" — see [[Psl]]. */
  def registeredDomain(host: Column,
                       rules: Psl.Rules = Psl.default): Column =
    graft.expressions.RegisteredDomain.registered_domain(host, rules)

  /** Attach structural columns parsed from `urlCol`:
    *  - `url_scheme`  — protocol ("https")
    *  - `url_host`    — lowercased authority host (no port)
    *  - `url_path`    — path with leading slash ("" for none)
    *  - `url_query`   — query string without '?' (NULL for none)
    *  - `url_domain`  — registered domain (eTLD+1)
    *  - `url_subdomain` — host prefix left of the registered domain
    *    ("" when host == domain)
    *  - `url_tld`     — last host label
    *  - `url_path_depth` — number of non-empty path segments
    *
    * Malformed URLs follow `parse_url` semantics: NULL components,
    * which propagate (a NULL-domain row groups into its own bucket —
    * filter or route it explicitly). */
  def parseUrls(df: DataFrame, urlCol: String,
                rules: Psl.Rules = Psl.default): DataFrame = {
    val u = col(urlCol)
    // try_parse_url, not parse_url: under ANSI the strict form THROWS
    // on a malformed URL, and a crawl corpus always contains some —
    // one bad row must degrade to NULL components, not kill the job.
    // Trailing root-dot FQDNs ("example.com.") are normalized to the
    // dotless form: the empty final label would otherwise make every
    // '*.com.' host share pseudo-domain "com." and split rows from
    // their dotless twins under a per-domain cap.
    val host = regexp_replace(
      lower(try_parse_url(u, lit("HOST"))), "\\.$", "")
    val domain = registeredDomain(host, rules)
    df
      .withColumn("url_scheme", try_parse_url(u, lit("PROTOCOL")))
      .withColumn("url_host", host)
      .withColumn("url_path", try_parse_url(u, lit("PATH")))
      .withColumn("url_query", try_parse_url(u, lit("QUERY")))
      .withColumn("url_domain", domain)
      .withColumn("url_subdomain",
        when(col("url_host") === col("url_domain"), lit(""))
          .otherwise(expr(
            "substring(url_host, 1, length(url_host) - length(url_domain) - 1)")))
      .withColumn("url_tld",
        element_at(split(col("url_host"), "\\."), -1))
      .withColumn("url_path_depth",
        size(filter(split(col("url_path"), "/"), x => x =!= lit(""))))
  }

  /** Per-domain cap — THE standard crawl-balancing move (no single
    * domain floods the corpus): keep a deterministic hash-uniform
    * `cap` rows per registered domain via [[Sampling.stratifiedCap]]
    * (one keyed window, skew-split by AQE). `idCol` must be unique
    * non-null. The domain is derived into a collision-proof temp
    * column and dropped — NOT via [[parseUrls]]' public `url_*`
    * names, which the input may legitimately already carry (e.g. a
    * preceding parse stage); output schema == input schema,
    * verbatim. */
  def capPerDomain(df: DataFrame, urlCol: String, idCol: String,
                   cap: Int, rules: Psl.Rules = Psl.default): DataFrame = {
    require(cap >= 1, s"cap must be >= 1, got $cap")
    val d = "__graft_url_domain"
    // same host normalization as parseUrls (lowercase, trailing
    // root-dot stripped) so the two stages agree on domains
    val withDomain = df.withColumn(d,
      registeredDomain(regexp_replace(
        lower(try_parse_url(col(urlCol), lit("HOST"))), "\\.$", ""), rules))
    Sampling.stratifiedCap(withDomain, Seq(d), idCol, cap).drop(d)
  }
}
