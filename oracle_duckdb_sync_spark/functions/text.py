"""Text-analysis functions for large-scale training-data pipelines.

Everything here is pure Catalyst expression work — tokenization,
shingling, hashing, language-ID, quality scoring — built from
``pyspark.sql.functions`` higher-order functions so the whole pipeline
stays inside WholeStageCodegen (no Python UDFs, no serialization wall).
At 100 TB these run as a map-only stage over the document scan: no
shuffle, no driver involvement, linear scale-out.

Cross-engine determinism: every hash bottoms out in
:func:`hash64_expr`, whose value equals DuckDB's ``md5_number_lower``
(lower 8 md5 bytes, little-endian) so the differential oracle can
replicate each operator bit-for-bit in SQL. Mod arithmetic uses
DECIMAL(38,0) on the Spark side / HUGEINT on DuckDB — both exact.

The reference system has no document processing; these extend its
engine the way its VARCHAR2 type-vote pipeline (data/converter.py)
extends raw scans: derive structure from strings, declaratively.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^61-1 (Mersenne prime) — modulus for permutation / rolling hashes
MERSENNE_61 = 2305843009213693951
# 2^60 — range cap so hashes fit comfortably in a signed BIGINT with shifts
POW2_60 = 1152921504606846976
# 2^31-1 (Mersenne prime) — base-hash fold for permutation inputs, so
# (a * h31 + b) with a < 2^31 stays inside a signed 64-bit long: the whole
# MinHash permutation bank runs in primitive codegen, no decimals
MERSENNE_31 = 2147483647

# BPE-ish pre-tokenizer: word pieces or single non-space punctuation —
# the common first pass before byte-pair merging in LLM tokenizers.
BPE_SPLIT_PATTERN = r"\w+|[^\w\s]"

# Per-language marker words for the stopword-vote language classifier.
# Short, high-frequency function words; ASCII only so the same literal
# works in both engines.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "fur", "von"),
    "en": ("the", "a", "of", "and", "is", "to", "in", "that", "it", "for"),
    "es": ("el", "la", "los", "las", "es", "y", "en", "que", "un", "para"),
    "fr": ("le", "la", "les", "et", "est", "ne", "un", "une", "dans", "pour"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("was", "are", "be", "this", "with", "as", "on")


def tokens_expr(c: Column) -> Column:
    """Lower-cased whitespace tokens.

    Whitespace is normalized with one codegen ``regexp_replace`` +
    ``trim`` and the split is on a literal space — avoiding a
    higher-order ``filter`` lambda, which Spark evaluates interpreted
    per element (measurably slower at corpus scale). Matches
    :func:`tokens_sql` exactly (empty/whitespace-only text → ``['']``
    on both engines).
    """
    return F.split(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")), " ")


def tokens_sql(c: str) -> str:
    """DuckDB twin of :func:`tokens_expr`."""
    return f"string_split(trim(regexp_replace(lower({c}), '\\s+', ' ', 'g')), ' ')"


def bpe_tokens_expr(c: Column) -> Column:
    """BPE-ish pre-tokenization: word pieces + punctuation marks."""
    return F.regexp_extract_all(F.lower(c), F.lit(BPE_SPLIT_PATTERN), 0)


def hash64_expr(c: Column) -> Column:
    """64-bit string hash as DECIMAL(20,0); equals DuckDB
    ``md5_number_lower(c)`` (lower 8 md5 bytes, little-endian).

    Built from md5-hex byte-pair reversal + ``conv`` — pure codegen.
    """
    h = F.md5(c)
    rev = F.concat(*[F.substring(h, 31 - 2 * i, 2) for i in range(8)])
    return F.conv(rev, 16, 10).cast("decimal(20,0)")


def hash64_sql(s: str) -> str:
    """DuckDB SQL equivalent of :func:`hash64_expr`."""
    return f"md5_number_lower({s})::HUGEINT"


def hash60_expr(c: Column) -> Column:
    """Hash folded into [0, 2^60) as BIGINT — safe for shifts/XOR."""
    return F.pmod(hash64_expr(c), F.lit(POW2_60).cast("decimal(20,0)")).cast("long")


def hash60_sql(s: str) -> str:
    return f"(({hash64_sql(s)}) % {POW2_60})::BIGINT"


def hash32_expr(c: Column) -> Column:
    """Lower 32 bits of the md5 hash as a plain LONG — 4 hex byte-pairs
    reversed + ``conv``; value < 2^32, so no decimal arithmetic at all.
    Equals DuckDB ``md5_number_lower(c) & 4294967295`` (LE low bytes are
    the low-order bytes of the number)."""
    h = F.md5(c)
    rev = F.concat(*[F.substring(h, 23 - 2 * i, 2) for i in range(4)])
    return F.conv(rev, 16, 10).cast("long")


def hash31_expr(c: Column) -> Column:
    """Hash folded into [0, 2^31-1) as BIGINT — permutation-bank input
    (products with 31-bit multipliers never overflow a long). Pure
    codegen: md5 → 32-bit conv → long mod."""
    return F.pmod(hash32_expr(c), F.lit(MERSENNE_31))


def hash31_sql(s: str) -> str:
    return f"((md5_number_lower({s}) & 4294967295)::BIGINT % {MERSENNE_31})"


def hash56_expr(c: Column) -> Column:
    """Lower 56 bits (7 LE bytes) of the md5 hash as LONG — the SimHash
    bit source; 14 hex chars keep ``conv`` inside a signed long with no
    decimal fallback. Equals DuckDB ``md5_number_lower(c) % 2^56``."""
    h = F.md5(c)
    rev = F.concat(*[F.substring(h, 29 - 2 * i, 2) for i in range(7)])
    return F.conv(rev, 16, 10).cast("long")


def hash56_sql(s: str) -> str:
    return f"(md5_number_lower({s}) % 72057594037927936)::BIGINT"


def minhash_perms(k: int, seed: int = 1) -> list[tuple[int, int]]:
    """Deterministic (a, b) parameter pairs via a 64-bit LCG — no RNG
    state, reproducible in any process, literal-embeddable in SQL."""
    out = []
    x = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        a = (x >> 33) | 1  # odd, < 2^31
        x = (x * 6364136223846793005 + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        b = x >> 33
        out.append((a, b))
    return out


def word_shingles_expr(toks: Column, k: int) -> Column:
    """Distinct k-word shingles ('a b c') from a token array.

    Documents shorter than k words yield a single whole-doc shingle so
    no row silently drops out of dedup.

    Built as a chain of k-1 ``zip_with`` concats against shifted copies
    of the token array rather than per-index ``slice``+``array_join`` —
    Spark evaluates array lambdas interpreted, and a single string
    concat per element is several times cheaper than allocating and
    joining a k-slice per element. ``zip_with`` null-pads the shorter
    side, so the trailing k-1 incomplete windows become null and are
    trimmed by the final slice.
    """
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    complete = F.slice(acc, 1, F.greatest(n - F.lit(k - 1), F.lit(1)))
    whole_doc = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(n >= k, complete).otherwise(whole_doc))


def word_shingles_sql(toks: str, k: int) -> str:
    """DuckDB equivalent (1-based inclusive slices match F.slice)."""
    return (
        f"list_distinct([array_to_string(({toks})[i:i+{k - 1}], ' ') "
        f"FOR i IN range(1, greatest(len({toks}) - {k - 2}, 2))])"
    )


def char_ngrams_expr(c: Column, n: int) -> Column:
    """Distinct character n-grams of a string (for n-gram Jaccard)."""
    lc = F.lower(c)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(lc) - F.lit(n - 1), F.lit(1))),
        lambda i: F.substring(lc, i, n),
    )
    return F.array_distinct(grams)


def jaccard_expr(a: Column, b: Column, nd: int = 6) -> Column:
    """Jaccard similarity of two distinct-element arrays, rounded."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.round(inter / union, nd)


def jaccard_sql(a: str, b: str, nd: int = 6) -> str:
    return (
        f"ROUND(len(list_intersect({a}, {b}))::DOUBLE / "
        f"len(list_distinct(list_concat({a}, {b})))::DOUBLE, {nd})"
    )


def rolling_fingerprint_expr(toks: Column) -> Column:
    """Document fingerprint: polynomial rolling hash over token hashes,
    ``fp = (fp*31 + h60(tok)) mod (2^61-1)`` — order-sensitive, exact
    (DECIMAL(38,0) accumulator), returns BIGINT."""
    return F.aggregate(
        toks,
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, t: F.pmod(
            acc * F.lit(31) + hash60_expr(t).cast("decimal(38,0)"),
            F.lit(MERSENNE_61).cast("decimal(38,0)"),
        ),
        lambda acc: acc.cast("long"),
    )


def rolling_fingerprint_sql(toks: str) -> str:
    # list_reduce errors on empty lists → prepend the zero seed element.
    return (
        f"CASE WHEN len({toks}) = 0 THEN 0 ELSE "
        f"list_reduce(list_prepend(0::HUGEINT, "
        f"[{hash60_sql('t')}::HUGEINT FOR t IN {toks}]), "
        f"(acc, h) -> (acc * 31 + h) % {MERSENNE_61})::BIGINT END"
    )


# CJK ideograph block — a script-range vote, since character n-grams,
# not space-delimited stopwords, identify Chinese text
CJK_NEG_CLASS = r"[^\x{4e00}-\x{9fff}]"
CJK_RATIO = 0.05


def lang_id_expr(toks: Column, raw: Column | None = None) -> Column:
    """Heuristic language ID: per-language marker-word hit counts, winner
    takes all (ties → lexicographically first language), no hits → 'und'.
    When the raw text is supplied, a CJK script-range check (≥5% of
    characters) short-circuits to 'zh' before the stopword vote.

    Argmax via sort of (−hits, lang) structs — deterministic in both
    engines (struct comparison is field-positional).
    """
    cands = []
    for lang in sorted(LANG_MARKERS):
        markers = F.array(*[F.lit(w) for w in LANG_MARKERS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(markers, t)))
        cands.append(F.struct((-hits).alias("neg_hits"), F.lit(lang).alias("lang")))
    best = F.sort_array(F.array(*cands))[0]
    vote = F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und"))
    if raw is None:
        return vote
    cjk = F.length(F.regexp_replace(raw, CJK_NEG_CLASS, ""))
    ratio = cjk / F.greatest(F.length(raw), F.lit(1)).cast("double")
    return F.when(ratio >= CJK_RATIO, F.lit("zh")).otherwise(vote)


def lang_id_sql(toks: str, raw: str | None = None) -> str:
    structs = []
    for lang in sorted(LANG_MARKERS):
        markers = "[" + ", ".join(f"'{w}'" for w in LANG_MARKERS[lang]) + "]"
        hits = f"len(list_filter({toks}, t -> list_contains({markers}, t)))"
        structs.append(f"{{'neg_hits': -{hits}, 'lang': '{lang}'}}")
    arr = "list_sort([" + ", ".join(structs) + "])"
    vote = f"CASE WHEN ({arr})[1].neg_hits < 0 THEN ({arr})[1].lang ELSE 'und' END"
    if raw is None:
        return vote
    cjk = f"length(regexp_replace({raw}, '{CJK_NEG_CLASS}', '', 'g'))"
    ratio = f"({cjk} / greatest(length({raw}), 1)::DOUBLE)"
    return f"CASE WHEN {ratio} >= {CJK_RATIO} THEN 'zh' ELSE {vote} END"


def quality_metrics_exprs(c: Column) -> dict[str, Column]:
    """Document quality metrics (the pre-training filter suite):
    character/token counts, mean token length, punctuation / digit /
    uppercase / stopword ratios, and a composite [0,1] score.
    """
    toks = tokens_expr(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    nz = F.greatest(n_chars, F.lit(1)).cast("double")
    nzt = F.greatest(n_tokens, F.lit(1)).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"()\[\]{}-]", ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]", ""))
    uppers = F.length(F.regexp_replace(c, r"[^A-Z]", ""))
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    sw_hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_tok = F.round(
        F.aggregate(
            toks, F.lit(0).cast("double"), lambda acc, t: acc + F.length(t)
        ) / nzt,
        6,
    )
    punct_ratio = F.round(punct / nz, 6)
    digit_ratio = F.round(digits / nz, 6)
    upper_ratio = F.round(uppers / nz, 6)
    stop_ratio = F.round(sw_hits / nzt, 6)
    # composite: reward stopword presence & sane token lengths, penalize
    # punctuation/digit walls — each clause clamped to [0,1]
    score = F.round(
        0.4 * F.least(stop_ratio * 4, F.lit(1.0))
        + 0.3 * F.when((mean_tok >= 2) & (mean_tok <= 12), 1.0).otherwise(0.0)
        + 0.2 * (1 - F.least(punct_ratio * 5, F.lit(1.0)))
        + 0.1 * (1 - F.least(digit_ratio * 5, F.lit(1.0))),
        6,
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tokens.cast("long"),
        "mean_token_len": mean_tok,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "upper_ratio": upper_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def quality_metrics_sql(c: str) -> dict[str, str]:
    """DuckDB equivalents, clause-for-clause."""
    toks = tokens_sql(c)
    n_chars = f"length({c})"
    n_tokens = f"len({toks})"
    nz = f"greatest({n_chars}, 1)::DOUBLE"
    nzt = f"greatest({n_tokens}, 1)::DOUBLE"
    punct = f"length(regexp_replace({c}, '[^.,;:!?''\"()\\[\\]{{}}-]', '', 'g'))"
    digits = f"length(regexp_replace({c}, '[^0-9]', '', 'g'))"
    uppers = f"length(regexp_replace({c}, '[^A-Z]', '', 'g'))"
    sw = "[" + ", ".join(f"'{w}'" for w in EN_STOPWORDS) + "]"
    sw_hits = f"len(list_filter({toks}, t -> list_contains({sw}, t)))"
    mean_tok = (
        f"ROUND(CASE WHEN {n_tokens} = 0 THEN 0.0 ELSE "
        f"list_reduce(list_prepend(0.0, [length(t)::DOUBLE FOR t IN {toks}]), "
        f"(a, b) -> a + b) END / {nzt}, 6)"
    )
    punct_ratio = f"ROUND({punct} / {nz}, 6)"
    digit_ratio = f"ROUND({digits} / {nz}, 6)"
    upper_ratio = f"ROUND({uppers} / {nz}, 6)"
    stop_ratio = f"ROUND({sw_hits} / {nzt}, 6)"
    score = (
        f"ROUND(0.4 * least({stop_ratio} * 4, 1.0) "
        f"+ 0.3 * (CASE WHEN {mean_tok} >= 2 AND {mean_tok} <= 12 THEN 1.0 ELSE 0.0 END) "
        f"+ 0.2 * (1 - least({punct_ratio} * 5, 1.0)) "
        f"+ 0.1 * (1 - least({digit_ratio} * 5, 1.0)), 6)"
    )
    return {
        "n_chars": f"{n_chars}::BIGINT",
        "n_tokens": f"{n_tokens}::BIGINT",
        "mean_token_len": mean_tok,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "upper_ratio": upper_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


# ---------------------------------------------------------------------------
# PII scrubbing (training-data safety pass)
# ---------------------------------------------------------------------------

# patterns kept in the RE2 ∩ java.util.regex common subset (no lookarounds,
# no backrefs) so Spark and DuckDB replace identically
PII_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_URL = "https?://[^\\s]+"
PII_LONGNUM = "[0-9][0-9 ()+.-]{6,}[0-9]"


def redact_pii_expr(c: Column) -> Column:
    """Redact emails, URLs, and long number runs (phone/account-shaped)
    with typed placeholders — order matters (URLs may contain digit runs,
    emails may appear in URLs, so URL → EMAIL → NUM)."""
    out = F.regexp_replace(c, PII_URL, "<URL>")
    out = F.regexp_replace(out, PII_EMAIL, "<EMAIL>")
    return F.regexp_replace(out, PII_LONGNUM, "<NUM>")


def redact_pii_sql(c: str) -> str:
    return (
        f"regexp_replace(regexp_replace(regexp_replace({c}, "
        f"'{PII_URL}', '<URL>', 'g'), "
        f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{PII_LONGNUM}', '<NUM>', 'g')"
    )


def top_tokens(df, text_col: str = "text", k: int = 20, min_len: int = 1):
    """Corpus vocabulary head: the k most frequent tokens — the counting
    pass a tokenizer/vocab build runs over the whole corpus.

    Scale shape: explode feeds a partial hash aggregate in the SAME
    stage, so the shuffle carries one (token, partial_count) row per
    distinct token per partition — Zipf makes that a tiny fraction of
    the exploded volume — and the top-k is ``TakeOrderedAndProject``
    under the unique (count desc, token) order, never a global sort.
    ``min_len`` drops the empty token that whitespace-only documents
    produce (both engines emit ``['']`` there, by convention).
    """
    from pyspark.sql import functions as F

    toks = tokens_expr(F.col(text_col))
    return (
        df.select(F.explode(toks).alias("token"))
        .filter(F.length("token") >= min_len)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(k)
    )


def top_tokens_sql(table: str, text_col: str = "text", k: int = 20, min_len: int = 1) -> str:
    """DuckDB twin of :func:`top_tokens`."""
    return f"""
    SELECT token, COUNT(*) AS cnt FROM (
      SELECT unnest({tokens_sql(text_col)}) AS token FROM {table}
    ) WHERE length(token) >= {min_len}
    GROUP BY token ORDER BY cnt DESC, token LIMIT {k}
    """


def repetition_ratio_expr(toks: Column, k: int = 3) -> Column:
    """Within-document repetition: fraction of duplicated k-word grams
    (1 − distinct/total over all complete k-grams) — the Gopher-style
    repetition filter signal; boilerplate and keyword-stuffed pages
    score high. Documents shorter than k tokens score 0. Same zip_with
    construction as :func:`word_shingles_expr` but WITHOUT the distinct
    (the duplicate mass is the signal), all codegen."""
    n = F.size(toks)
    acc = toks
    for j in range(1, k):
        acc = F.zip_with(
            acc,
            F.slice(toks, j + 1, F.greatest(n - j, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    grams = F.slice(acc, 1, F.greatest(n - F.lit(k - 1), F.lit(0)))
    total = F.size(grams)
    return F.round(
        F.when(
            total > 0,
            1 - F.size(F.array_distinct(grams)) / total.cast("double"),
        ).otherwise(0.0),
        6,
    )


def repetition_ratio_sql(toks: str, k: int = 3) -> str:
    """DuckDB twin of :func:`repetition_ratio_expr` (same gram windows,
    1-based inclusive slices)."""
    grams = (
        f"[array_to_string(({toks})[i:i+{k - 1}], ' ') "
        f"FOR i IN range(1, greatest(len({toks}) - {k - 2}, 1))]"
    )
    return (
        f"CASE WHEN len({grams}) > 0 THEN "
        f"ROUND(1 - len(list_distinct({grams})) / len({grams})::DOUBLE, 6) "
        f"ELSE 0.0 END"
    )


def chunk_text(
    df,
    id_col: str,
    text_col: str,
    chunk_chars: int,
    overlap_chars: int = 0,
):
    """Split documents into fixed-width character chunks with optional
    overlap — context-window preparation (a 100k-char document becomes
    ~25 chunks for a 4k window with 256 overlap). Pure codegen:
    ``sequence`` generates each document's start offsets from its own
    length and ``explode`` + ``substring`` cut the windows — no UDF, no
    shuffle; at 100 TB this is a map-side row multiplier whose output
    feeds straight into `partitionBy` sharding.

    Every document yields ≥ 1 chunk (empty/short docs yield themselves),
    the final chunk may be shorter than ``chunk_chars``, and
    ``chunk_idx`` is 0-based. Offsets count characters (both engines are
    UTF-8 character-, not byte-, addressed).
    """
    if chunk_chars <= 0 or overlap_chars < 0 or overlap_chars >= chunk_chars:
        raise ValueError("need chunk_chars > 0 and 0 <= overlap_chars < chunk_chars")
    step = chunk_chars - overlap_chars
    n = F.length(F.col(text_col))
    # last start: the largest 1 + k*step still opening a non-overlap-only
    # chunk — i.e. the smallest start covering the doc end; short docs
    # clamp to a single chunk at offset 1
    starts = F.sequence(
        F.lit(1),
        F.greatest(n - F.lit(overlap_chars), F.lit(1)),
        F.lit(step),
    )
    ex = df.select(
        F.col(id_col),
        F.col(text_col),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    return ex.select(
        id_col,
        "chunk_idx",
        F.substring(F.col(text_col), F.col("__start"), chunk_chars).alias("chunk"),
    )


def chunk_text_sql(
    table: str,
    id_col: str,
    text_col: str,
    chunk_chars: int,
    overlap_chars: int = 0,
) -> str:
    """DuckDB twin of :func:`chunk_text` (generate_series is inclusive
    like Spark's sequence; substr is 1-based and character-addressed in
    both engines)."""
    step = chunk_chars - overlap_chars
    return f"""
    SELECT {id_col},
           CAST(g.i AS BIGINT) AS chunk_idx,
           substr({text_col}, 1 + CAST(g.i AS BIGINT) * {step}, {chunk_chars}) AS chunk
    FROM {table},
         LATERAL (
           SELECT unnest(generate_series(
             0, (greatest(length({text_col}) - {overlap_chars}, 1) - 1) // {step}
           )) AS i
         ) g
    """


_TRACKING_PREFIXES = ("utm_", "fbclid", "gclid", "msclkid", "mc_cid", "mc_eid", "ref")


def canonical_url_expr(c: Column) -> Column:
    """Canonical form of a URL for URL-level dedup (the CCNet-style
    pass that runs BEFORE any content dedup — one crawl frontier entry
    per canonical page): lowercase, scheme and leading ``www.``
    dropped, fragment dropped, tracking query parameters
    (``utm_* / fbclid / gclid / msclkid / mc_cid / mc_eid / ref``)
    removed with the remaining parameters kept in order, trailing
    slash on the path normalized away. Pure codegen (split / filter /
    concat — the one regex is the anchored ``^https?://`` scheme
    strip, identical in Java and RE2 semantics), so the DuckDB twin
    (:func:`canonical_url_sql`) is value-exact."""
    u = F.lower(F.trim(c))
    u = F.regexp_replace(u, "^https?://", "")
    u = F.regexp_replace(u, "^www\\.", "")
    u = F.split(u, "#", 2)[0]
    parts = F.split(u, "\\?", 2)
    base = F.regexp_replace(parts[0], "/$", "")
    query = F.when(F.size(parts) > 1, parts[1]).otherwise(F.lit(""))
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~reduce(
            lambda a, b: a | b,
            [p.startswith(pref + "=") | p.startswith(pref + "_")
             if pref == "ref" else p.startswith(pref)
             for pref in _TRACKING_PREFIXES],
        ),
    )
    qs = F.array_join(kept, "&")
    return F.when(qs == "", base).otherwise(F.concat(base, F.lit("?"), qs))


def canonical_url_sql(c: str) -> str:
    """DuckDB twin of :func:`canonical_url_expr` — same operation
    order, same tracking-prefix rules."""
    preds = []
    for pref in _TRACKING_PREFIXES:
        if pref == "ref":
            preds.append(f"starts_with(p, '{pref}=')")
            preds.append(f"starts_with(p, '{pref}_')")
        else:
            preds.append(f"starts_with(p, '{pref}')")
    drop = " OR ".join(preds)
    u = f"regexp_replace(regexp_replace(lower(trim({c})), '^https?://', ''), '^www\\.', '')"
    nofrag = f"string_split({u}, '#')[1]"
    base = f"regexp_replace(string_split({nofrag}, '?')[1], '/$', '')"
    # everything after the FIRST '?' (matching Spark's split limit=2 —
    # string_split[2] would stop at a second '?' inside the query)
    query = (
        f"(CASE WHEN strpos({nofrag}, '?') = 0 THEN '' "
        f"ELSE substr({nofrag}, strpos({nofrag}, '?') + 1) END)"
    )
    kept = (
        f"list_filter(string_split({query}, '&'), "
        f"p -> p <> '' AND NOT ({drop}))"
    )
    # DuckDB's array_to_string of an EMPTY list is NULL, not ''
    qs = f"coalesce(array_to_string({kept}, '&'), '')"
    return (
        f"(CASE WHEN {qs} = '' THEN {base} "
        f"ELSE {base} || '?' || {qs} END)"
    )


# ---------------------------------------------------------------------------
# HTML → text extraction (crawl prep: the step BEFORE language-ID /
# quality / dedup — raw crawl payloads are markup, the pipeline wants
# prose). Pure-codegen regexp chain; every pattern is written in the
# common Java-regex ∩ RE2 dialect (no backreferences, explicit
# whitespace classes instead of \s) so the DuckDB twins are value-exact.
# ---------------------------------------------------------------------------

# decoded AFTER tag stripping; &amp; LAST so "&amp;lt;" decodes to the
# literal "&lt;" (standard double-escape order)
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]

# [ \t\n\r\f] and not \s: Java's \s includes \x0B, RE2's does not —
# an explicit class keeps both engines byte-identical
_WS = "[ \\t\\n\\r\\f]+"
# ONE alternation pass, not four sequential regexp_replace passes over
# the full payload (each pass re-scans and re-allocates the document;
# the chain was 2.6x DuckDB at sf1 and not closing). Alternatives try
# left-to-right at each position in BOTH Java regex and RE2
# (leftmost-first/Perl semantics), and inline-flag groups (?s:)/(?is:)
# scope the flags per branch identically in both dialects. Semantics
# vs the old sequential form differ only on pathological nesting
# (e.g. a comment containing a bare '</script>' inside a script block)
# — the single-pass form is what a real one-pass extractor does, and
# both engines run the identical pattern.
_HTML_STRIP = (
    r"(?s:<!--.*?-->)"
    r"|(?is:<script[^>]*>.*?</script>)"
    r"|(?is:<style[^>]*>.*?</style>)"
    r"|<[^>]*>"
)
_TITLE_RE = r"(?is)<title[^>]*>(.*?)</title>"
_LINK_RE = r"(?i)<a[ \t\n\r\f/>]"


def _html_entity_decode_expr(c: Column) -> Column:
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return c


def html_text_expr(c: Column) -> Column:
    """Visible text of an HTML payload: comments, ``<script>``/
    ``<style>`` blocks (content included), and all tags removed; the
    six common entities decoded; whitespace collapsed and trimmed.
    Deliberately naive-but-deterministic (no DOM, no charset
    sniffing): the goal is a cheap whole-corpus pass whose output
    feeds language-ID/quality/dedup, not a browser. Pure codegen —
    runs inside the scan's WholeStageCodegen span; one strip pass
    (see _HTML_STRIP), six literal entity replaces, one whitespace
    collapse."""
    c = F.regexp_replace(c, _HTML_STRIP, " ")
    c = _html_entity_decode_expr(c)
    return F.trim(F.regexp_replace(c, _WS, " "))


def html_title_expr(c: Column) -> Column:
    """``<title>`` content (first occurrence), entity-decoded and
    whitespace-collapsed; '' when absent."""
    t = F.regexp_extract(c, _TITLE_RE, 1)
    t = _html_entity_decode_expr(t)
    return F.trim(F.regexp_replace(t, _WS, " "))


def html_link_count_expr(c: Column) -> Column:
    """Number of anchor tags — the link-density signal quality
    heuristics (boilerplate/nav-page detection) cut on."""
    return F.regexp_count(c, F.lit(_LINK_RE)).cast("int")


def _html_entity_decode_sql(c: str) -> str:
    for ent, ch in _HTML_ENTITIES:
        lit = ch.replace("'", "''")
        c = f"replace({c}, '{ent}', '{lit}')"
    return c


def html_text_sql(c: str) -> str:
    """DuckDB twin of :func:`html_text_expr` — same single alternation
    pattern (leftmost-first in RE2 exactly as in Java), 'g' flag
    (DuckDB replaces first match only by default)."""
    c = f"regexp_replace({c}, '{_HTML_STRIP}', ' ', 'g')"
    c = _html_entity_decode_sql(c)
    return f"trim(regexp_replace({c}, '{_WS}', ' ', 'g'))"


def html_title_sql(c: str) -> str:
    # coalesce covers DuckDB's NULL-on-no-match (Spark returns '' for a
    # no-match) but must NOT manufacture '' from a NULL INPUT — Spark's
    # chain yields NULL there, so the twin preserves NULL-in → NULL-out
    t = f"coalesce(regexp_extract({c}, '{_TITLE_RE}', 1), '')"
    t = _html_entity_decode_sql(t)
    return (
        f"(CASE WHEN {c} IS NULL THEN NULL "
        f"ELSE trim(regexp_replace({t}, '{_WS}', ' ', 'g')) END)"
    )


def html_link_count_sql(c: str) -> str:
    return f"length(regexp_extract_all({c}, '{_LINK_RE}'))::INTEGER"
