"""Web-corpus curation filters: per-site quotas and quality-rule gates.

The operations a Common-Crawl-scale training-data pipeline applies before
tokenizing anything (the CCNet / Gopher preprocessing family — rule shapes
after Rae et al. 2021 §A1.1 and Wenzek et al. 2020; thresholds here are
engine defaults, not paper-exact):

* :func:`site_quota_sample` — keep at most ``quota`` pages per site,
  chosen by a portable deterministic hash order (no ``rand()``: same
  sample at local[1] and on 1000 executors, and re-runs are identical).
  Implemented as a SALTED two-level top-K over row_number windows, never
  a per-site window and never a collect_list aggregate: a hot site (the
  crawl reality: one domain with 10^8 pages) splits across ``salts``
  spill-safe level-1 window groups, and the level-2 merge group is
  hard-bounded at ``salts * quota`` rows.
* :func:`quality_rule_flags` — per-document boolean rule columns + the
  conjunction keep flag, entirely in whole-stage codegen (one scan, no
  shuffle, no Python): length bounds, mean-word-length bounds, symbol
  ratio, and a duplicate-sentence fraction over the in-document sentence
  multiset.

Both are exact-SQL-expressible by construction and hash-checked by the
driver oracles (``site_quota_sample``, ``quality_rule_flags``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from word_sense_disambiguation_spark.functions.text import WS, WS_CLASS

SITE_RE = r"^[a-z]+://[^/]+/([^/]+)/"


def site_of(url_col: Column) -> Column:
    """First path segment as the site/partition key (the crawl's layout
    puts the source collection there; swap the regex for parse_url(HOST)
    on corpora where the host varies)."""
    return F.regexp_extract(url_col, SITE_RE, 1)


def _order_hash(url_col: Column, seed: int) -> Column:
    """Portable per-url order key: first 8 md5 hex chars as a long (same
    value in DuckDB via ('0x' || substr(md5(...), 1, 8))::BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:q:"), url_col)), 1, 8), 16, 10
    ).cast("long")


def site_quota_sample(
    pages: DataFrame,
    url_col: str = "url",
    quota: int = 10,
    seed: int = 42,
    salts: int = 64,
) -> DataFrame:
    """(pages) -> at most ``quota`` rows per site: the globally smallest
    ``quota`` (order_hash, url) pairs per site, deterministic.

    Two-level SALTED top-K via ``row_number`` windows, never a per-SITE
    window and never a ``collect_list`` aggregate:

    * level 1 ranks within ``(site, order_hash % salts)`` — a hot site's
      10^8 pages split across ``salts`` independent window groups, and
      WindowExec streams each group through a SPILLABLE buffer
      (ExternalAppendOnlyUnsafeRowBuffer), so a still-large group costs
      disk, not an OOM. A ``collect_list``-based top-K cannot make that
      guarantee: its per-group list buffer must fit in memory at the
      reduce-side merge *before* any slice applies (Catalyst does not push
      a slice into the aggregate), which is exactly the hot-site OOM.
    * level 2 re-ranks the survivors within ``site`` — hard-bounded at
      ``salts * quota`` input rows per group by construction.

    Equivalent to a global per-site top-K because the K smallest elements
    of a set are among the K smallest of each part. ``salts`` trades
    level-1 parallelism on hot sites against level-2 group size
    (``salts * quota``); raise it when one site may hold >> ``salts * 10^6``
    pages.
    """
    u = F.col(url_col)
    h = _order_hash(u, seed)
    keyed = pages.select(
        site_of(u).alias("site"),
        (h % salts).cast("int").alias("_salt"),
        u.alias(url_col),
        h.alias("order_hash"),
    )
    w1 = Window.partitionBy("site", "_salt").orderBy("order_hash", url_col)
    survivors = (
        keyed.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= quota)
    )
    w2 = Window.partitionBy("site").orderBy("order_hash", url_col)
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= quota)
        .select("site", url_col, "order_hash")
    )


def drop_boilerplate_sentences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_docs: int = 10,
) -> DataFrame:
    """CCNet-style cross-corpus boilerplate removal: a sentence whose
    normalized form appears in MORE than ``max_docs`` distinct documents
    is boilerplate (cookie banners, navigation, legal footers); drop it
    from every document and reassemble the survivors in original order.

    Output: ``(id, clean_text, n_kept, n_dropped)`` — the dropped count
    rides along per document (no silent removal). Reassembly contract:
    kept sentences joined with ``'. '`` and terminated with ``'.'``
    (empty string when nothing survives) — a normalization, not
    byte-preservation; byte-level provenance stays in the source table.

    Plan shape at scale: explode -> one groupBy on the normalized
    sentence (count distinct docs, map-side partially aggregated) ->
    join back -> one groupBy on the doc id to reassemble. Two shuffles
    total, both on keys with bounded skew (a hot boilerplate sentence is
    exactly what the count step detects, and it aggregates to ONE row
    before the join back).
    """
    t = F.col(text_col)
    sents = F.filter(
        F.transform(F.split(t, r"\."), lambda s: F.trim(s)), lambda s: s != ""
    )
    exploded = docs.select(
        F.col(id_col).alias("_id"), F.posexplode(sents).alias("pos", "sent")
    ).withColumn("_norm", F.lower(F.col("sent")))
    hot = (
        exploded.groupBy("_norm")
        .agg(F.countDistinct("_id").alias("_df"))
        .filter(F.col("_df") > max_docs)
        .select("_norm")
    )
    tagged = exploded.join(hot, on="_norm", how="left_anti")
    kept = tagged.groupBy("_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "sent"))).alias("_k")
    )
    n_sents_by_doc = docs.select(
        F.col(id_col).alias("_id"), F.size(sents).alias("_n_total")
    )
    # coalesce before size-compare: a doc whose every sentence dropped (or
    # that had none) arrives from the left join with _k = NULL
    clean = F.when(
        F.coalesce(F.size("_k"), F.lit(0)) > 0,
        F.concat(
            F.concat_ws(". ", F.transform("_k", lambda k: k["sent"])), F.lit(".")
        ),
    ).otherwise(F.lit(""))
    return (
        n_sents_by_doc.join(kept, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            clean.alias("clean_text"),
            F.coalesce(F.size("_k"), F.lit(0)).alias("n_kept"),
            (F.col("_n_total") - F.coalesce(F.size("_k"), F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


def _upper_percent_hex(col: Column) -> Column:
    """Normalize percent-encodings to the RFC 3986 canonical UPPERCASE hex
    form (``%7e`` -> ``%7E``), pure codegen: split on ``%``, uppercase the
    first two chars of each following fragment when they are hex digits
    (a ``%`` not followed by two hex digits is left byte-identical — it
    is not an encoding), and reassemble. No regex-callback needed, so the
    DuckDB oracle can replay it with the same split/transform shape."""
    parts = F.split(col, "%", -1)
    fixed_tail = F.transform(
        F.slice(parts, 2, F.greatest(F.size(parts) - 1, F.lit(0))),
        lambda p: F.concat(
            F.lit("%"),
            F.when(
                p.rlike("^[0-9A-Fa-f]{2}"), F.upper(F.substring(p, 1, 2))
            ).otherwise(F.substring(p, 1, 2)),
            F.substring(p, 3, 1_000_000_000),
        ),
    )
    return F.when(F.size(parts) <= 1, col).otherwise(
        F.concat(F.element_at(parts, 1), F.concat_ws("", fixed_tail))
    )


def canonical_url(url_col: Column) -> Column:
    """Crawl-grade URL canonicalization, pure codegen: lowercase scheme +
    host, strip the host's trailing root-label dot (``example.com.`` ==
    ``example.com`` per DNS), strip a leading ``www.``, strip the
    scheme-default port, drop the fragment, collapse an empty path to
    ``/`` and trailing slashes otherwise, UPPERCASE percent-encoding hex
    in path and query (``%7e`` -> ``%7E``, RFC 3986 §6.2.2.1), drop
    tracking query params (``utm_*``/``fbclid``/``gclid``) and SORT the
    survivors so param order never splits a dedup group.

    Built from anchored regexps (not a URL library) so the DuckDB oracle
    can mirror it expression-for-expression; dot-segment resolution
    (``/a/../b``) and unreserved-char percent-DEcoding are deliberately
    out of scope — a resolver belongs in the fetcher, not the dedup key.

    Inputs that do not match the ``scheme://host`` shape canonicalize to
    NULL (never the degenerate ``'://'`` prefix). CONSUMER CONTRACT for
    that NULL: in a JOIN-keyed dedup NULLs never match each other, but a
    ``groupBy(canonical)`` treats NULLs as EQUAL — one giant garbage
    group. groupBy-based consumers must either filter
    ``canonical IS NOT NULL`` first or group on
    ``coalesce(canonical, raw_url)`` (per-row fallback) — exactly what
    the engine's own dedup consumers do. Tracking params are dropped
    whether or not they carry a value (``?fbclid`` and ``?fbclid=x``
    both go).
    """
    u = F.trim(url_col)
    well_formed = u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(F.regexp_extract(u, r"^[^:]+://([^/?#]+)", 1))
    host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    # root-label dot AFTER port stripping ('example.com.:443' -> port goes
    # first); one dot only — 'example.com..' is malformed, not canonical.
    host = F.regexp_replace(host, r"\.$", "")
    # strip ALL trailing slashes, then restore the bare root: handles
    # '', '/', '/a/b/', and the degenerate '//' with one rule
    path = F.regexp_replace(
        F.regexp_extract(u, r"^[^:]+://[^/?#]+([^?#]*)", 1), "/+$", ""
    )
    path = F.when(path == "", F.lit("/")).otherwise(path)
    path = _upper_percent_hex(path)
    q = _upper_percent_hex(F.regexp_extract(u, r"\?([^#]*)", 1))
    params = F.array_sort(
        F.filter(
            F.split(q, "&"),
            lambda p: (p != "")
            & ~p.rlike(r"^(utm_[A-Za-z0-9_]*|fbclid|gclid)(=|$)"),
        )
    )
    qs = F.concat_ws("&", params)
    return F.when(
        well_formed,
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")),
        ),
    )


def path_rollup(
    df: DataFrame,
    url_col: str,
    value_col: str | None = None,
    max_depth: int = 3,
) -> DataFrame:
    """URL path-hierarchy rollup: per ``(host, depth, path_prefix)``,
    document counts (and an optional BIGINT value sum) at EVERY prefix
    depth 0..``max_depth`` — the site-map aggregation
    (``example.com/`` -> ``/a`` -> ``/a/b`` -> ...) that is to the URL
    tree what ``time_bucket_rollup`` is to the time axis (crawl-budget
    allocation, template-directory discovery, per-section quality
    drill-down).

    Parsing is pure portable regex (explicit character classes — the
    CLAUDE.md Java-vs-RE2 discipline: never ``\\s``/property classes):
    host is the authority between ``scheme://`` and the first
    ``/?#``; path segments are the non-empty ``/``-splits of the
    pre-query path. Rows whose url yields no host (malformed/relative)
    are EXCLUDED — this operator aggregates a parsed site tree; route
    un-parseable urls through ``canonical_url``'s NULL handling first.
    Depth 0 is the host root ``/``; a url contributes to every prefix
    it lies under (min(size(segments), max_depth) + 1 rows).

    Scale shape: one scan, the prefix explosion is a row-local
    ``posexplode`` over a transform/sequence array (linear, bounded by
    ``max_depth + 1`` rows per doc — never a self-join per level), then
    ONE map-side-combined groupBy; a hot directory (every page of a
    10^8-page site shares depth-1) contracts map-side. All counts/sums
    BIGINT.
    """
    scheme_host = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    scheme_path = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"
    u = F.col(url_col)
    base = df.select(
        F.regexp_extract(u, scheme_host, 1).alias("_host"),
        F.regexp_extract(u, scheme_path, 1).alias("_path"),
        (
            F.col(value_col).cast("long") if value_col else F.lit(0)
        ).alias("_v"),
    ).filter(F.col("_host") != "")
    segs = F.expr("filter(split(_path, '/'), s -> s != '')")
    prefixes = F.expr(
        f"transform(sequence(0, least({int(max_depth)}, size(_segs))),"
        f" d -> concat('/', array_join(slice(_segs, 1, d), '/')))"
    )
    exploded = (
        base.withColumn("_segs", segs)
        .select(
            F.col("_host").alias("host"),
            F.posexplode(prefixes).alias("depth", "path_prefix"),
            "_v",
        )
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_docs")]
    if value_col:
        aggs.append(F.sum("_v").cast("long").alias(f"sum_{value_col}"))
    return exploded.groupBy(
        "host", F.col("depth").cast("int").alias("depth"), "path_prefix"
    ).agg(*aggs)


def extract_links(
    df: DataFrame,
    url_col: str,
    html_col: str,
) -> DataFrame:
    """Outlink extraction from raw HTML — the operator that turns a
    crawl table into THE web-scale graph: one row per
    ``(src_url, src_host, dst_url, dst_host, position)`` for every
    ABSOLUTE http(s) href anchor, in document order.

    Defined semantics (portable, test-pinned): hrefs are matched by a
    pure explicit-class regex — ``href`` (ASCII, case-insensitive via
    the [hH] class spelling, never the (?i) flag whose scope differs
    across engines), optional whitespace around ``=`` spelled with the
    engine's WS_CLASS (NEVER ``\\s`` — the Java-vs-RE2 trap), a single-
    or double-quoted value starting ``http://``/``https://``. Relative
    links, javascript:, mailto:, unquoted hrefs are OUT OF SCOPE by
    contract (a crawl link graph wants resolvable absolute edges; a
    full RFC 3986 resolver belongs in ``canonical_url``'s family).
    Hosts come from the same authority regex as :func:`path_rollup`;
    rows with NULL html produce no links.

    Scale shape: ONE ``regexp_extract_all`` pass over the html (group 1
    keeps the quotes; a cheap per-match substring strips them — never a
    second regex scan of the document) + ``posexplode`` — entirely
    inside whole-stage codegen on the scan, no Python, no shuffle; the
    output is edge rows whose downstream aggregation (host graph,
    dedup) is the consumer's partial-combined groupBy. A 10^5-link hub
    page costs 10^5 row-local rows, never a buffered window.
    """
    from word_sense_disambiguation_spark.functions.text import WS_CLASS

    href_re = (
        f"[hH][rR][eE][fF]{WS_CLASS}*={WS_CLASS}*"
        f"(\"[hH][tT][tT][pP][sS]?://[^\"]+\""
        f"|'[hH][tT][tT][pP][sS]?://[^']+')"
    )
    host_re = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    quoted = F.regexp_extract_all(F.col(html_col), F.lit(href_re), F.lit(1))
    links = F.transform(quoted, lambda x: x.substr(F.lit(2), F.length(x) - 2))
    return (
        df.select(
            F.col(url_col).alias("src_url"),
            F.regexp_extract(F.col(url_col), host_re, 1).alias("src_host"),
            F.posexplode(links).alias("position", "dst_url"),
        )
        .withColumn(
            "dst_host", F.regexp_extract(F.col("dst_url"), host_re, 1)
        )
        .select(
            "src_url", "src_host", "dst_url", "dst_host",
            F.col("position").cast("int").alias("position"),
        )
    )


def anchor_profile(
    df: DataFrame,
    url_col: str,
    html_col: str,
) -> DataFrame:
    """Inlink anchor-text profile per target url — the classic
    web-ranking signal (anchor text describes the TARGET better than
    the target's own page; Brin & Page 1998 §2.2): for every absolute
    http(s) anchor across the crawl, aggregate per ``dst_url`` the
    inlink count, the distinct referring hosts, and the most frequent
    non-empty anchor text (ties broken lexicographically ASC — the LPA
    tie discipline, pinned).

    Extraction contract extends :func:`extract_links`: same explicit-
    class href regex, plus the anchor's DIRECT text prefix (characters
    after the opening tag's ``>`` up to the next ``<``; nested markup
    is out of scope by contract), trimmed with the engine's WS set.
    Empty/whitespace-only anchors count as inlinks but never become
    ``top_anchor``.

    Scale shape: ONE regex pass over each document (group-0 matches);
    per-match field parsing runs on the short match strings, never a
    second scan of the html; then two map-side-combined contractions —
    (dst, anchor) counts and distinct (dst, src_host) — each re-
    aggregated per dst and equi-joined on ``dst_url``. The top anchor
    is a ``min_by`` over the (-count, anchor) struct — an AGGREGATE
    with partial combine (the assign_senses invariant), never a
    row_number window: a boilerplate footer link pointing 10^9 times at
    one target contracts map-side twice.
    """
    from word_sense_disambiguation_spark.functions.text import WS_CLASS

    href_re = (
        f"[hH][rR][eE][fF]{WS_CLASS}*={WS_CLASS}*"
        f"(\"[hH][tT][tT][pP][sS]?://[^\"]+\""
        f"|'[hH][tT][tT][pP][sS]?://[^']+')"
        f"[^>]*>([^<]*)"
    )
    host_re = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
    matches = F.regexp_extract_all(F.col(html_col), F.lit(href_re), F.lit(0))
    quoted = F.regexp_extract(
        F.col("_m"), "[hH][rR][eE][fF][^\"']*([\"'][^\"']+[\"'])", 1
    )
    edges = (
        df.select(
            F.regexp_extract(F.col(url_col), host_re, 1).alias("src_host"),
            F.explode(matches).alias("_m"),
        )
        .filter(F.col("src_host") != "")
        .select(
            "src_host",
            quoted.substr(F.lit(2), F.length(quoted) - 2).alias("dst_url"),
            # trim via WS_CLASS regex (engine-interpreted escapes) —
            # NEVER trim(BOTH '<WS>'): WS is a RAW regex-class string,
            # so SQL trim would read its backslash escapes as LITERAL
            # set members (t, n, r, f, x, 0, B...) and eat real letters
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(F.col("_m"), ">([^<]*)$", 1),
                    f"^{WS_CLASS}+",
                    "",
                ),
                f"{WS_CLASS}+$",
                "",
            ).alias("anchor"),
        )
    )
    by_anchor = edges.groupBy("dst_url", "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    totals = by_anchor.groupBy("dst_url").agg(
        F.sum("cnt").cast("long").alias("n_inlinks")
    )
    top = (
        by_anchor.filter(F.col("anchor") != "")
        .groupBy("dst_url")
        .agg(
            F.min_by(
                "anchor",
                F.struct(
                    (-F.col("cnt")).alias("_negcnt"),
                    F.col("anchor").alias("_a"),
                ),
            ).alias("top_anchor")
        )
    )
    hosts = (
        edges.select("dst_url", "src_host")
        .distinct()
        .groupBy("dst_url")
        .agg(F.count(F.lit(1)).cast("long").alias("n_src_hosts"))
    )
    return (
        totals.join(top, on="dst_url", how="left")
        .join(hosts, on="dst_url")
        .select("dst_url", "n_inlinks", "n_src_hosts", "top_anchor")
    )


def filter_blocklisted_hosts(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    rule_col: str = "rule",
    max_depth: int = 8,
) -> DataFrame:
    """UT1/adult-blocklist-style domain filtering: flag every row whose
    host equals a blocklist entry or sits under one (``a.b.example.com``
    is blocked by ``example.com``). Appends ``blocked`` and
    ``matched_rule`` (the MOST SPECIFIC — longest — matching entry;
    suffixes of one host have pairwise-distinct lengths, so there is no
    tie to break). Standard curation stage (CCNet/RefinedWeb run UT1
    before anything content-based).

    SHUFFLE-FREE by construction: instead of exploding the host into its
    dot-suffixes and re-grouping (an exchange over the whole corpus),
    each suffix depth d in ``[1, max_depth]`` gets its own broadcast
    left join — the last-d-labels suffix is a codegen expression, the
    blocklist broadcast is built once and reused across depths
    (ReusedExchange), and ``matched_rule`` is a coalesce ordered
    deepest-first. The corpus never moves; the plan is one scan wide.
    Hosts deeper than ``max_depth`` labels still match any rule of up to
    ``max_depth`` labels (the suffix is anchored at the host's tail) —
    only a BLOCKLIST ENTRY deeper than ``max_depth`` labels is beyond
    the horizon, and real blocklists are 2-4 labels deep.

    At 10^12 rows the only cost question is the broadcast size: UT1's
    ~4M domains is tens of MB — well inside executor broadcast budgets;
    a bigger list should be pre-bucketed and this helper swapped for a
    bucketed join (same output contract).
    """
    labels = F.split(F.col(host_col), r"\.")
    n = F.size(labels)
    # dedup ONCE; each depth joins a rename of the same plan so the
    # distinct subtree canonicalizes identically and AQE's exchange
    # reuse shares one broadcast build across all depths (worst case
    # the cost is max_depth copies of an already-deduped domain list)
    bl0 = blocklist.select(F.col(rule_col).alias("_bl_rule")).distinct()
    out = df
    depth_cols = []
    for d in range(1, max_depth + 1):
        # last d labels as a dot-joined suffix; NULL when the host is
        # shallower than d (slice start must stay >= 1)
        suffix = F.when(
            n >= d, F.concat_ws(".", F.slice(labels, n - d + 1, d))
        )
        rname = f"_bl_rule_{d}"
        out = out.join(
            F.broadcast(bl0.withColumnRenamed("_bl_rule", rname)),
            suffix == F.col(rname),
            how="left",
        )
        depth_cols.append(rname)
    matched = F.coalesce(*[F.col(c) for c in reversed(depth_cols)])
    return out.select(
        *df.columns,
        matched.isNotNull().alias("blocked"),
        matched.alias("matched_rule"),
    )


# Rae et al. 2021 §A1.1's stop-word gate list ("must contain >= 2 of ...").
# A fixed 8-word list, NOT functions.text.FUNCTION_WORDS: the paper's rule
# is a crude English-ness probe, and a bigger list would water it down.
GOPHER_STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# Leading characters that mark a bullet line (ASCII dashes/stars + the
# typographic bullet); explicit list, no regex shorthand (oracle parity).
BULLET_PREFIXES = ("-", "*", "•")
ELLIPSIS_SUFFIXES = ("...", "…")


def quality_rule_flags(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 10,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.25,
    max_dup_sentence_frac: float = 0.30,
    min_stop_words: int = 2,
    max_bullet_line_ratio: float = 0.90,
    max_ellipsis_line_ratio: float = 0.30,
) -> DataFrame:
    """Per-document rule booleans + keep flag, pure codegen.

    * ``r_len``: whitespace word count within [min_words, max_words];
    * ``r_word_len``: mean word length (alnum chars / words, one IEEE
      division) within bounds;
    * ``r_symbol``: non-alnum-non-space character fraction <= threshold;
    * ``r_dup_sent``: fraction of '.'-delimited sentences that are
      duplicates of an earlier one (1 - distinct/total) <= threshold —
      the in-document repetition signal that catches boilerplate;
    * ``r_stopwords``: >= ``min_stop_words`` DISTINCT members of the
      fixed 8-word Gopher stop list appear as whitespace tokens (Rae et
      al. 2021 §A1.1's English-ness probe — machine-generated and
      non-prose pages fail it);
    * ``r_bullet`` / ``r_ellipsis``: fraction of non-empty lines starting
      with a bullet mark <= 0.90 / ending with an ellipsis <= 0.30 (the
      §A1.1 list-page and teaser-page rules);
    * ``keep`` = conjunction. Thresholds are engine defaults in the
      paper's shape, not paper-exact.
    """
    t = F.col(text_col)
    words = F.split(F.trim(t), WS_CLASS + "+")
    n_words = F.size(words)
    n_alnum = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    n_sym = F.length(F.regexp_replace(t, r"[A-Za-z0-9" + WS + "]", ""))
    n_chars = F.length(t)
    mean_wl = n_alnum.cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    sym_ratio = n_sym.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    sents = F.filter(
        F.transform(F.split(t, r"\."), lambda s: F.trim(s)), lambda s: s != ""
    )
    dup_frac = (
        (F.size(sents) - F.size(F.array_distinct(sents))).cast("double")
        / F.greatest(F.size(sents), F.lit(1)).cast("double")
    )
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.split(F.lower(F.trim(t)), WS_CLASS + "+")),
            F.array(*[F.lit(w) for w in GOPHER_STOP_WORDS]),
        )
    )
    # lines: literal '\n' split (identical to a non-regex split on chr(10)
    # in the oracle), trimmed, empties dropped
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda s: F.trim(s)), lambda s: s != ""
    )
    n_lines = F.size(lines)

    def _any_prefix(s):
        c = None
        for p in BULLET_PREFIXES:
            e = s.startswith(p)
            c = e if c is None else (c | e)
        return c

    def _any_suffix(s):
        c = None
        for p in ELLIPSIS_SUFFIXES:
            e = s.endswith(p)
            c = e if c is None else (c | e)
        return c

    bullet_ratio = (
        F.size(F.filter(lines, _any_prefix)).cast("double")
        / F.greatest(n_lines, F.lit(1)).cast("double")
    )
    ellipsis_ratio = (
        F.size(F.filter(lines, _any_suffix)).cast("double")
        / F.greatest(n_lines, F.lit(1)).cast("double")
    )
    r_len = (n_words >= min_words) & (n_words <= max_words)
    r_word_len = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    r_symbol = sym_ratio <= max_symbol_ratio
    r_dup = dup_frac <= max_dup_sentence_frac
    r_stop = n_stop >= min_stop_words
    r_bullet = bullet_ratio <= max_bullet_line_ratio
    r_ellipsis = ellipsis_ratio <= max_ellipsis_line_ratio
    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_ratio"),
        dup_frac.alias("dup_sentence_frac"),
        n_stop.alias("n_stop_words"),
        bullet_ratio.alias("bullet_line_ratio"),
        ellipsis_ratio.alias("ellipsis_line_ratio"),
        r_len.alias("r_len"),
        r_word_len.alias("r_word_len"),
        r_symbol.alias("r_symbol"),
        r_dup.alias("r_dup_sent"),
        r_stop.alias("r_stopwords"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        (
            r_len & r_word_len & r_symbol & r_dup & r_stop & r_bullet & r_ellipsis
        ).alias("keep"),
    )


# --- PII scrubbing ----------------------------------------------------------

# Engine-portable PII patterns: explicit ASCII classes and bounded repeats
# only — no \d/\s shorthands (Java-vs-RE2 divergence class, see
# functions.text.WS), no lookaround (RE2 has none). Each is deliberately
# simple enough to mirror character-for-character into the DuckDB oracle;
# a production deployment swaps in jurisdiction-specific rule packs with
# the same replace-and-count contract.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
# international-format phone (+country...) or dashed NANP-style groups
PHONE_RE = r"\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}"


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Rule-based PII scrub (the CCNet/Dolma preprocessing step): replace
    emails, IPv4 addresses and phone numbers with typed placeholder
    tokens and carry per-document match counts — redaction is never
    silent.

    Output: ``(id, clean_text, n_emails, n_ips, n_phones)``. Pure
    whole-stage codegen: one scan, zero shuffle, zero Python. Counts are
    taken BEFORE any replacement and replacements apply in the fixed
    order email -> ip -> phone (the count of a later rule is over the
    original text, so overlapping matches are counted identically on any
    engine replaying the same order). Non-overlapping leftmost match
    semantics are identical in Java regex and RE2 for these patterns —
    hash-checked by the ``pii_redaction`` driver oracle over planted
    addresses.
    """
    t = F.col(text_col)
    clean = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, IPV4_RE, "<IP>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return docs.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(IPV4_RE)).alias("n_ips"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
    )


# --- sequence packing -------------------------------------------------------


def pack_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 2048,
    shards: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the GPT-style training-data
    layout: documents are concatenated in a deterministic order and cut
    into fixed ``capacity``-token context windows; a document knows which
    chunk range it lands in.

    Output per doc: ``(id, shard, n_tokens, start_offset, chunk_first,
    chunk_last)`` where offsets are token positions within the shard's
    concatenation and chunks are ``capacity``-sized windows (a doc may
    straddle two chunks — the standard concat-then-chunk contract; a
    no-split greedy bin-packer is sequentially dependent and does not
    distribute).

    Scale shape: documents hash deterministically into ``shards``
    independent streams (the parallel unit — size it to the cluster);
    within a shard, order is the portable (md5, id) pair and the offset
    is ONE running-sum window per shard (spill-safe WindowExec, never a
    global sort). Token count = explicit-ASCII whitespace pieces, the
    same proxy as the prompt length filter.
    """
    # coalesce BEFORE trim (same rule as filter_prompts_by_length): a null
    # text would otherwise yield size(split(null)) — NULL offsets under
    # ANSI (Spark 4 default) or -1 under legacy sizeOfNull, either of
    # which corrupts the shard's entire running-sum layout. Null text
    # deterministically packs as 0 tokens on any config.
    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    n_tok = F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, WS_CLASS + "+"))
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:pack:"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    keyed = docs.select(
        F.col(id_col),
        (h % shards).cast("int").alias("shard"),
        h.alias("_h"),
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("_h", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    end_off = F.sum("n_tokens").over(w)
    start_off = (end_off - F.col("n_tokens")).cast("long")
    return keyed.select(
        id_col,
        "shard",
        "n_tokens",
        start_off.alias("start_offset"),
        F.floor(start_off / capacity).cast("long").alias("chunk_first"),
        F.floor(
            F.greatest(end_off - 1, start_off) / capacity
        ).cast("long").alias("chunk_last"),
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    group_col: str = "lang",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic per-group mixture resampling — the training-data
    BLENDING step (Pile/LLaMA-style corpus weights): each group (language,
    source, domain) gets a target rate; rate < 1 downsamples, rate > 1
    upsamples by integer replication plus a fractional Bernoulli copy.
    A document with rate ``r`` emits ``floor(r)`` certain copies and one
    extra copy iff ``hash32(salt, id) < frac(r) * 2^32`` — so expected
    copies = r exactly, and the decision is a pure function of the row id:
    identical output at local[1] and on 1000 executors, across re-runs,
    and under any partitioning (the engine's no-rand discipline). Groups
    absent from ``rates`` drop (rate 0). Output = input columns +
    ``copy_id`` (1..n, the replication index — downstream epoch salting
    can key on it).

    Scale shape: pure whole-stage codegen — one scan, a literal-map
    lookup, an md5, and an explode; no shuffle, no Python, no driver
    state. Output volume is bounded by ``max(rates) * |input|``. The
    fractional thresholds are precomputed here as INTEGER literals
    (``int(frac * 2^32)``), so the SQL oracle replays the acceptance test
    with integer comparison only — no cross-engine float discipline
    needed at all. Reference analogue: the training set's per-word
    example balancing (``/root/reference/training/train.py:309-357``)
    — same goal (shape the label distribution), lifted to corpus scale.
    """
    certain: list[Column] = []
    thresh: list[Column] = []
    for g, r in sorted(rates.items()):
        if r < 0:
            raise ValueError(f"negative rate for group {g!r}")
        certain.extend([F.lit(g), F.lit(int(r))])
        thresh.extend([F.lit(g), F.lit(int(round((r - int(r)) * 2**32)))])
    n_certain = F.coalesce(
        F.element_at(F.create_map(*certain), F.col(group_col)), F.lit(0)
    )
    thr = F.coalesce(
        F.element_at(F.create_map(*thresh), F.col(group_col)), F.lit(0)
    )
    u32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    n_copies = n_certain + F.when(u32 < thr, F.lit(1)).otherwise(F.lit(0))
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard with an
    # empty array, which explode() drops.
    copies = F.when(
        n_copies > 0, F.sequence(F.lit(1), n_copies)
    ).otherwise(F.array().cast("array<int>"))
    return docs.withColumn("copy_id", F.explode(copies))


def quality_classifier_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: DataFrame | None = None,
    threshold_milli: int = 0,
) -> DataFrame:
    """Model-based quality scoring: a linear bag-of-words classifier in
    fastText's architecture (mean of per-token weights -> sign), the
    filter CCNet / LLaMA-style pipelines run AFTER the rule gates
    (:func:`quality_rule_flags`) to rank pages by wiki-reference-ness.

    Weights are INTEGER milli-units and the per-document logit is a
    BIGINT sum, so accumulation is exact and association-free — floating
    point appears only in the final single IEEE division
    ``score = logit_milli / (1000 * n_tokens)`` (exact denominator:
    1000 * n_tokens < 2^53). That is what makes a learned-model scorer
    hash-oracle-able at all; a float-weight sum would be partition-order
    dependent. Output: ``(doc_id, n_tokens, logit_milli, score, keep)``
    with ``keep = logit_milli > threshold_milli * n_tokens`` (the
    integer-space form of ``score > threshold`` — no float compare).

    Two physical paths, identical output contract:

    - ``weights is None`` (default): the engine's deterministic stand-in
      — token weight = (60-bit md5 prefix mod 2001) - 1000, i.e. a
      seeded hash-projection in [-1000, 1000], the same
      plumbing-real/model-fake discipline as the multimodal decoder and
      the gloss-overlap MLM stand-in. ZERO shuffle: one codegen'd
      higher-order aggregate per row, no explode, nothing leaves the
      scan stage. This is the 100 TB shape — a model whose weights are
      a pure function of the token needs no weight table at all.
    - ``weights`` given (``(token, w_milli)``): the learned-model slot.
      Tokens explode, BROADCAST-join the vocabulary (a real fastText
      vocab is <= a few million rows — always the build side, never a
      shuffled join keyed on a crawl's hot tokens), unmatched tokens
      contribute 0, then ONE groupBy(doc) with map-side partial combine
      re-aggregates. Skew-immune: a 10^9-occurrence stop word is
      broadcast-matched map-side and partial-summed before the shuffle.

    Tokenization is the oracle convention: explicit whitespace class,
    lower/trim/coalesce(''); empty/null text scores over its single ''
    token (n_tokens is never 0, so the division is total). Reference
    parity anchor: the scorer-as-injectable-slot contract of
    ``operators/mlm_scorer.py`` (scorer_factory), applied to corpus
    curation.
    """
    toks = F.split(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), WS_CLASS + "+"
    )

    def w_of(tok):
        return (
            F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long") % 2001
            - 1000
        )

    if weights is None:
        logit = F.aggregate(
            F.transform(toks, w_of),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        scored = docs.select(
            F.col(id_col).alias("doc_id"),
            F.size(toks).cast("long").alias("n_tokens"),
            logit.alias("logit_milli"),
        )
    else:
        exploded = docs.select(
            F.col(id_col).alias("doc_id"), F.explode(toks).alias("token")
        )
        joined = exploded.join(
            F.broadcast(
                weights.select(
                    F.col("token"), F.col("w_milli").cast("long").alias("w_milli")
                )
            ),
            on="token",
            how="left",
        )
        scored = joined.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.coalesce(F.sum("w_milli"), F.lit(0))
            .cast("long")
            .alias("logit_milli"),
        )
    return scored.select(
        "doc_id",
        "n_tokens",
        "logit_milli",
        (
            F.col("logit_milli").cast("double")
            / (F.lit(1000.0) * F.col("n_tokens").cast("double"))
        ).alias("score"),
        (
            F.col("logit_milli") > F.lit(threshold_milli) * F.col("n_tokens")
        ).alias("keep"),
    )
