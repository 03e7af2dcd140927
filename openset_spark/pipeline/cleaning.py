"""Text cleaning for training-data pipelines: PII redaction, markup
stripping, whitespace normalization, corpus-level n-gram counts.

All regexp/array built-ins — these run inside whole-stage codegen
over the full corpus. Patterns stick to syntax Java and RE2 share so
the DuckDB oracles verify the exact same semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openset_spark.functions.text import shingles_from_tokens, tokens

# deliberately simple, oracle-checkable patterns (production would
# layer smarter validators AFTER this cheap first pass)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{7,}[0-9]"
IPV4_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
HTML_TAG_RE = r"<[^>]+>"


def redact_pii(
    text: Column,
    email: str = "<EMAIL>",
    phone: str = "<PHONE>",
    ip: str = "<IP>",
) -> Column:
    """Replace emails, phone-like runs and IPv4 addresses with tokens.
    Order matters: emails first (their digits would otherwise feed the
    phone pattern), then IPs, then phones.

    This is the cheap in-projection pass clean_documents ships (its
    behavior is pinned by that operator's oracle key); the richer
    audit layer — URL pattern, typed per-doc counts, per-source
    report, kinds= selection — lives in ``pipeline.pii``."""
    out = F.regexp_replace(text, EMAIL_RE, email)
    out = F.regexp_replace(out, IPV4_RE, ip)
    return F.regexp_replace(out, PHONE_RE, phone)


def strip_markup(text: Column) -> Column:
    """Drop HTML/XML tags and collapse the leftover whitespace."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(text, HTML_TAG_RE, " "), r"\s+", " ")
    )


def clean_documents(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """markup-strip + PII-redact in one projection."""
    return df.withColumn(out_col, redact_pii(strip_markup(F.col(text_col))))


# ---------------------------------------------------------------
# Encoding repair (the ftfy pass a web corpus needs before
# tokenization — VERDICT r12 ask #4): curated mojibake sequences
# from UTF-8 bytes mis-decoded as CP1252/Latin-1, e.g. é (C3 A9)
# -> "Ã©", ’ (E2 80 99) -> "â€™", and the double-encoded round
# trip "Ã¢â‚¬â„¢". Everything is LITERAL replace/count — no regex,
# so Spark and DuckDB agree byte-for-byte by construction. The maps
# are ordered: double-encoded first (their text contains the
# single-encoded sequences), then punctuation, accents, spacing.
MOJIBAKE_DOUBLE = [
    ("Ã¢â‚¬â„¢", "’"),
    ("Ã¢â‚¬Å“", "“"),
    ("Ã¢â‚¬Â¦", "…"),
]
MOJIBAKE_PUNCT = [
    ("â€™", "’"),  # â€™ -> ’
    ("â€˜", "‘"),  # â€˜ -> ‘
    ("â€œ", "“"),  # â€œ -> “
    ("â€“", "–"),  # â€“ -> –
    ("â€”", "—"),  # â€” -> —
    ("â€¦", "…"),  # â€¦ -> …
]
MOJIBAKE_ACCENT = [
    ("Ã©", "é"),  # Ã© -> é
    ("Ã¨", "è"),  # Ã¨ -> è
    ("Ã¡", "á"),  # Ã¡ -> á
    ("Ã ", "à"),  # Ã (+nbsp) -> à
    ("Ã¢", "â"),  # Ã¢ -> â
    ("Ã¤", "ä"),  # Ã¤ -> ä
    ("Ã§", "ç"),  # Ã§ -> ç
    ("Ãª", "ê"),  # Ãª -> ê
    ("Ã«", "ë"),  # Ã« -> ë
    ("Ã­", "í"),  # Ã­ -> í
    ("Ã¯", "ï"),  # Ã¯ -> ï
    ("Ã³", "ó"),  # Ã³ -> ó
    ("Ã´", "ô"),  # Ã´ -> ô
    ("Ã¶", "ö"),  # Ã¶ -> ö
    ("Ã±", "ñ"),  # Ã± -> ñ
    ("Ãº", "ú"),  # Ãº -> ú
    ("Ã¼", "ü"),  # Ã¼ -> ü
    ("Ã‰", "É"),  # Ã‰ -> É
    ("Ãœ", "Ü"),  # Ãœ -> Ü
]
MOJIBAKE_SPACING = [
    ("Â ", " "),       # Â+nbsp -> plain space
    ("Â«", "«"),  # Â« -> «
    ("Â»", "»"),  # Â» -> »
    ("Â°", "°"),  # Â° -> °
]
MOJIBAKE_CLASSES = [
    ("double", MOJIBAKE_DOUBLE),
    ("punct", MOJIBAKE_PUNCT),
    ("accent", MOJIBAKE_ACCENT),
    ("spacing", MOJIBAKE_SPACING),
]


def _count_literal(c: Column, s: str) -> Column:
    """Occurrences of literal ``s`` in ``c`` by length arithmetic —
    (len - len(after removal)) / len(s), exact integers end-to-end."""
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(s), F.lit(""))))
        / F.lit(len(s))
    ).cast("long")


def _apply_map(c: Column, pairs: list) -> Column:
    for bad, good in pairs:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def mojibake_repair(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, carry..., n_double, n_punct, n_accent, n_spacing,
    n_mojibake, flagged, repaired) per document: encoding-damage
    detection and the fix pass. Each class is counted on the text AS
    REPAIRED BY THE PREVIOUS classes (double-encoded text contains
    the single-encoded and accent sequences as substrings —
    progressive counting means n_* sums to the number of
    replacements actually applied, with no double counting). One
    projection, all literal string ops inside codegen; nothing
    shuffles. ``carry`` names input columns to ride along (the
    lang_id extra_cols fusion hook — a caller fusing stages must not
    join this frame back against its own input, which would plan the
    upstream twice)."""
    stage = F.col(text_col)
    counts = {}
    for name, pairs in MOJIBAKE_CLASSES:
        n = F.lit(0).cast("long")
        for bad, _good in pairs:
            n = n + _count_literal(stage, bad)
        counts[f"n_{name}"] = n
        stage = _apply_map(stage, pairs)
    total = sum(
        (F.col(f"n_{name}") for name, _ in MOJIBAKE_CLASSES),
        F.lit(0).cast("long"),
    )
    return df.select(
        F.col(id_col),
        *carry,
        *[c.alias(n) for n, c in counts.items()],
        stage.alias("repaired"),
    ).select(
        id_col,
        *carry,
        *counts.keys(),
        total.alias("n_mojibake"),
        (total > 0).alias("flagged"),
        "repaired",
    )


# Block-level boundaries for main-content extraction: the tags that
# terminate a text block in every browser's layout model. Both open
# and close forms split; inline tags (<a>, <b>, <span>, ...) do NOT —
# they stay inside the block and are stripped after classification.
BLOCK_TAG_RE = (
    r"(?i)</?(?:p|div|h[1-6]|li|ul|ol|br|td|th|tr|table|nav|header|"
    r"footer|aside|section|article|blockquote|form)\b[^>]*>"
)
# group 1 = the inner text of one anchor (nested inline tags allowed)
ANCHOR_SPAN_RE = r"(?i)<a\b[^>]*>([\s\S]*?)</a>"


def _block_token_count(c: Column) -> Column:
    """Whitespace tokens of an already tag-stripped, space-collapsed
    string ('' counts 0 — split('') yields [''] in both engines)."""
    return (
        F.when(c == "", F.lit(0)).otherwise(F.size(F.split(c, " ")))
    ).cast("long")


def content_blocks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
    max_link_permille: int = 500,
) -> DataFrame:
    """jusText-shape block classification (Pomikálek 2011; the
    text-density + link-density step every web-crawl pipeline runs
    between raw HTML and quality filtering — trafilatura/jusText
    territory, here as pure JVM regexp/array built-ins):

    1. split each document into blocks on block-level tags;
    2. per block, strip inline markup and count tokens, and count
       the tokens inside ``<a>`` spans of the ORIGINAL block;
    3. keep blocks with >= ``min_tokens`` tokens whose link density
       (anchor_tokens / n_tokens) is <= max_link_permille/1000 — the
       integer-permille compare keeps the rule exact cross-engine.

    Output: one row per NON-EMPTY block (doc, block_idx, block_text,
    n_tokens, anchor_tokens, kept); blocks that are pure markup or
    whitespace vanish (and don't count) in both engines, which makes
    the frame robust to engine-specific empty-split conventions.
    Scale shape: one projection + explode, no shuffle at all — the
    per-block rows stay on their document's partition."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1: {min_tokens}")
    if not 0 <= max_link_permille <= 1000:
        raise ValueError(
            f"max_link_permille must be in [0, 1000]: {max_link_permille}"
        )
    blocks = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), BLOCK_TAG_RE)).alias(
            "block_idx", "_raw"
        ),
    )
    bt = strip_markup(F.col("_raw"))
    anchor = strip_markup(
        F.array_join(
            F.regexp_extract_all(F.col("_raw"), F.lit(ANCHOR_SPAN_RE), 1),
            " ",
        )
    )
    scored = blocks.select(
        id_col,
        F.col("block_idx").cast("long").alias("block_idx"),
        bt.alias("block_text"),
        _block_token_count(bt).alias("n_tokens"),
        _block_token_count(anchor).alias("anchor_tokens"),
    ).filter(F.col("n_tokens") > 0)
    return scored.withColumn(
        "kept",
        (F.col("n_tokens") >= min_tokens)
        & (
            F.col("anchor_tokens") * 1000
            <= max_link_permille * F.col("n_tokens")
        ),
    )


def extract_main_content(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 3,
    max_link_permille: int = 500,
) -> DataFrame:
    """(id, n_blocks, n_kept, main_text) per document with >= 1
    non-empty block: the kept blocks of content_blocks reassembled
    in document order — raw crawl HTML in, boilerplate-free prose
    out, ready for gopher_quality and the per-language mixtures
    (VERDICT r12 ask #3: regex strip alone feeds menus and cookie
    banners to the quality filters). A document whose every block is
    boilerplate still emits (n_kept = 0, main_text = '')."""
    blocks = content_blocks(
        df, text_col, id_col, min_tokens, max_link_permille
    )
    # collect_list skips nulls -> only kept blocks ride the struct
    # array; array_sort on (block_idx, text) restores document order
    return blocks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct("block_idx", "block_text"),
                        )
                    )
                ),
                lambda s: s["block_text"],
            ),
            " ",
        ).alias("main_text"),
    )


def top_ngrams(
    df: DataFrame,
    n: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(ngram, occurrences, docs) the k most frequent word n-grams in
    the corpus — explode + one hash aggregate; the global top-k is a
    TakeOrderedAndProject (per-partition top-k merged at the driver,
    never a full sort)."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    grams = toked.select(
        F.col(id_col),
        F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct(id_col).alias("docs"),
        )
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(k)
    )

from pyspark.sql import Window  # noqa: E402  (kept below the hot imports)


def boilerplate_affixes(
    df: DataFrame,
    group_col: str = "source",
    ks: tuple = (1, 2, 4),
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate header/footer detection: per group (source/domain),
    the MODAL k-token prefix and suffix and how many documents share
    it. `n_top == n_docs` means the whole group carries the affix —
    the exact-LCP case a strip pass can cut unconditionally; a large
    `n_top` short of that is template boilerplate worth a per-cluster
    strip. Degrades gracefully on non-templated corpora (modal share
    ~ uniform) instead of collapsing to lcp=0 everywhere.

    Output: (group, side, k, top_affix, n_top, n_docs); ties on count
    break to the lexicographically smallest affix so the frame is
    engine-portable.

    Scale shape: documents are trimmed to their first/last max(ks)
    tokens BEFORE the k-explode (the shuffle carries <= 2*max_k
    tokens per doc, not the document body), then one hash aggregate
    per (group, side, k, affix) and a rank-1 window over the tiny
    distinct-affix frame."""
    max_k = max(ks)
    toked = df.select(
        F.col(group_col),
        tokens(F.col(text_col)).alias("_ts"),
    ).select(
        group_col,
        F.slice("_ts", 1, max_k).alias("_pre"),
        F.expr(f"slice(_ts, -least(size(_ts), {max_k}), {max_k})").alias(
            "_suf"
        ),
    )
    n_docs = toked.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    exploded = toked.withColumn(
        "k", F.explode(F.array(*[F.lit(k) for k in ks]))
    ).select(
        group_col,
        "k",
        F.array_join(F.slice("_pre", F.lit(1), F.col("k")), " ").alias(
            "prefix"
        ),
        F.array_join(
            F.expr("slice(_suf, -least(size(_suf), k), k)"), " "
        ).alias("suffix"),
    )
    long = exploded.selectExpr(
        f"{group_col}",
        "k",
        "stack(2, 'prefix', prefix, 'suffix', suffix) AS (side, affix)",
    )
    counted = long.groupBy(group_col, "side", "k", "affix").agg(
        F.count(F.lit(1)).alias("n_top")
    )
    w = Window.partitionBy(group_col, "side", "k").orderBy(
        F.desc("n_top"), F.asc("affix")
    )
    top = counted.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") == 1
    )
    return top.join(F.broadcast(n_docs), group_col).select(
        group_col,
        "side",
        F.col("k").cast("long").alias("k"),
        F.col("affix").alias("top_affix"),
        "n_top",
        "n_docs",
    )


# Markdown-strip rules, ORDER IS THE CONTRACT (code fences first so
# nothing inside them is counted as headings/links; images before
# links because the link pattern matches an image's tail; spacing
# last). Patterns sit in the Java∩RE2 subset with inline (?s)/(?m)
# flags; replacements use Java's $1 form — the oracle generator
# rewrites them to RE2's \1 and adds DuckDB's 'g' flag (Spark's
# regexp_replace is global by default). Fourth field: whether the
# rule emits a count column (counted on the text as stripped by the
# PREVIOUS rules — a heading inside a code fence never counts, the
# mojibake progressive-count convention).
MD_RULES = [
    ("code_blocks", r"(?s)```.*?```", " ", True),
    ("inline_code", r"`([^`\n]*)`", "$1", False),
    ("images", r"!\[([^\]]*)\]\(([^)]*)\)", "$1", True),
    ("links", r"\[([^\]]*)\]\(([^)]*)\)", "$1", True),
    ("headings", r"(?m)^#{1,6}[ \t]+", "", True),
    ("emphasis", r"\*{1,3}([^*\n]+)\*{1,3}", "$1", False),
    ("bold_underscore", r"__([^_\n]+)__", "$1", False),
    ("blockquote", r"(?m)^>[ \t]?", "", False),
    ("hrule", r"(?m)^(-{3,}|\*{3,})[ \t]*$", "", False),
    ("html_tags", r"<[^>\n]+>", " ", False),
    ("spaces", r"[ \t]+", " ", False),
]


def markdown_strip(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Markdown -> plain text (the Dolma/RedPajama step beside
    extract_main_content's HTML path): fenced code blocks dropped,
    inline code / emphasis / bold unwrapped, images and links
    reduced to their alt/anchor text, heading and blockquote markers
    and horizontal rules removed, stray inline HTML tags spaced out,
    runs of spaces collapsed. Emits (id, carry..., n_code_blocks,
    n_images, n_links, n_headings, plain).

    Sequential-count contract: each counted rule counts on the text
    AS STRIPPED BY THE PREVIOUS rules — markup inside a code fence
    is never counted (and an UNTERMINATED fence is left in place:
    the non-greedy span needs a closing ```, so its contents then DO
    count — garbage in, garbage out, deterministically). One
    stateless chain of projections, zero exchanges; each counted
    boundary binds the intermediate text in its own stage so the
    count never re-evaluates the upstream replace chain (the
    parse_urls staging lesson)."""
    cur = df.select(
        F.col(id_col), *carry, F.col(text_col).alias("_t")
    )
    count_cols = []
    for name, pat, repl, counted in MD_RULES:
        if counted:
            cur = cur.select(
                "*",
                F.size(
                    F.regexp_extract_all(F.col("_t"), F.lit(pat), F.lit(0))
                )
                .cast("long")
                .alias(f"n_{name}"),
            )
            count_cols.append(f"n_{name}")
        cur = cur.withColumn(
            "_t", F.regexp_replace(F.col("_t"), pat, repl)
        )
    return cur.select(
        F.col(id_col),
        *carry,
        *count_cols,
        F.trim(F.col("_t")).alias("plain"),
    )
