"""DuckDB oracle SQL builders.

The driver's correctness gate runs each ``__spark_entry__.queries()`` entry in
Spark AND its ``oracle_sql()`` ANSI-SQL twin in DuckDB, then compares
row-count + schema + order-insensitive value hash. The builders here generate
the DuckDB side from the SAME frozen constants the Spark operators use
(regexes, stopword lists, lexicons, hash construction), so both engines
compute the identical function.

Cross-engine ground rules used throughout:
- regexes restricted to syntax valid in both Java regex (Spark) and RE2
  (DuckDB); DuckDB ``regexp_replace`` needs the ``'g'`` flag to match
  Spark's replace-all.
- hashes = first 15 hex digits of md5 as bigint (``functions.text.hash64``).
- floats are rounded BEFORE ranking/comparison; sizes cast to bigint.
"""

from __future__ import annotations

from .functions.sentiment import COMPOUND_ALPHA, NEGATIVE_WORDS, POSITIVE_WORDS
from .functions.text import BRACKET_SPAN, DIGIT_WORD, HASHTAG, PUNCT_CLASS, STOPWORDS
from .operators.text_analysis import (
    LANG_MARKERS,
    PII_EMAIL,
    PII_PHONE,
    PII_URL,
    QGATE_BIAS,
    QGATE_W_DIGIT,
    QGATE_W_LEN,
    QGATE_W_MTL,
    QGATE_W_PUNCT,
    QGATE_W_STOP,
    TOKEN_PATTERN,
)


def sq(s: str) -> str:
    """SQL-quote a string literal (single quotes doubled)."""
    return "'" + s.replace("'", "''") + "'"


def sql_list(words: list[str]) -> str:
    return "[" + ", ".join(sq(w) for w in words) + "]"


STOPWORD_LIST = sql_list(STOPWORDS)


def sql_hash64(x: str) -> str:
    """= functions.text.hash64"""
    return f"CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def sql_clean_text(x: str) -> str:
    """= functions.text.clean_text (F1): lower → strip [..] → punct → digit-words."""
    c = f"lower({x})"
    c = f"regexp_replace({c}, {sq(BRACKET_SPAN)}, '', 'g')"
    c = f"regexp_replace({c}, {sq(PUNCT_CLASS)}, '', 'g')"
    c = f"regexp_replace({c}, {sq(DIGIT_WORD)}, '', 'g')"
    return c


def sql_tokenize_ws(x: str) -> str:
    """= functions.text.tokenize_ws: split on single space, drop empties."""
    return f"list_filter(string_split({x}, ' '), t -> t <> '')"


def sql_remove_stopwords(toks: str) -> str:
    """= functions.text.remove_stopwords (F5): order/dup-preserving filter."""
    return f"list_filter({toks}, t -> NOT list_contains({STOPWORD_LIST}, t))"


def sql_hashtags(x: str) -> str:
    """= functions.text.extract_hashtags (F2)."""
    return f"regexp_extract_all({x}, {sq(HASHTAG)}, 1)"


def sql_bigrams(t: str) -> str:
    """= functions.text.pairwise_bigrams (F6) joined by ' ': canonical
    (sorted) adjacent pairs."""
    pair = (
        f"CASE WHEN {t}[i] <= {t}[i+1] THEN {t}[i] || ' ' || {t}[i+1] "
        f"ELSE {t}[i+1] || ' ' || {t}[i] END"
    )
    return f"list_transform(range(1, len({t})), i -> {pair})"


def sql_ngrams(t: str, n: int) -> str:
    """= functions.text.ngrams joined by ' '."""
    joined = " || ' ' || ".join(f"{t}[i+{j}]" for j in range(n))
    return f"list_transform(range(1, len({t}) - {n - 2}), i -> {joined})"


def sql_shingles(x: str, n: int = 3) -> str:
    """= operators.dedup.shingles: distinct word n-grams of lowercased text."""
    toks = sql_tokenize_ws(f"lower({x})")
    return f"list_distinct({sql_ngrams(toks, n)})"


def sql_minhash_signature(sh: str, num_hashes: int = 16) -> str:
    """= operators.dedup.minhash_signature: Carter-Wegman seeded family
    h_i = h1 + i * (h2 % 2^40), exact in BIGINT on both engines."""
    h1 = sql_hash64("s")
    h2_base = sql_hash64("(s || '#')")
    h2 = f"({h2_base} % {1 << 40})"
    return (
        f"list_transform(range(0, {num_hashes}), "
        f"i -> list_min(list_transform({sh}, s -> ({h1}) + i * {h2})))"
    )


def sql_simhash(x: str, bits: int = 32) -> str:
    """= operators.dedup.simhash over distinct lowercased tokens."""
    toks = f"list_distinct({sql_tokenize_ws(f'lower({x})')})"
    hashes = f"list_transform({toks}, t -> {sql_hash64('t')})"
    terms = []
    for j in range(bits):
        mask = 1 << j
        vote = (
            f"COALESCE(list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h & {mask}) <> 0 THEN 1 ELSE -1 END)), 0)"
        )
        terms.append(f"CASE WHEN {vote} > 0 THEN CAST({mask} AS BIGINT) ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def sql_simhash_near_dup_pairs(
    table: str,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> str:
    """= operators.dedup.simhash_near_dup_pairs: banded candidate equi-join
    + bit_count(xor) verify, identical band arithmetic."""
    band_width = bits // bands
    mask = (1 << band_width) - 1
    fp = sql_simhash(text_col, bits)
    return f"""
WITH fp AS (SELECT {id_col} AS id, {fp} AS fp FROM {table}),
banded AS (
  SELECT id, fp, ii.i AS bi, (fp >> (ii.i * {band_width})) & {mask} AS bv
  FROM fp, (SELECT unnest(range(0, {bands})) AS i) ii),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.fp AS fa, b.fp AS fb
  FROM banded a JOIN banded b
    ON a.bi = b.bi AND a.bv = b.bv AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def sql_sentiment(x: str) -> dict[str, str]:
    """= functions.sentiment.sentiment_native → 4 named exprs."""
    toks = sql_tokenize_ws(f"lower({x})")
    pos_list = sql_list(sorted(POSITIVE_WORDS))
    neg_list = sql_list(sorted(NEGATIVE_WORDS))
    case = "CASE t " + " ".join(
        f"WHEN {sq(w)} THEN {s!r}" for w, s in {**POSITIVE_WORDS, **NEGATIVE_WORDS}.items()
    ) + " ELSE 0.0 END"
    total = f"COALESCE(list_sum(list_transform({toks}, t -> {case})), 0.0)"
    npos = f"len(list_filter({toks}, t -> list_contains({pos_list}, t)))"
    nneg = f"len(list_filter({toks}, t -> list_contains({neg_list}, t)))"
    ntok = f"greatest(len({toks}), 1)"
    return {
        "negative": f"round(({nneg})::DOUBLE / ({ntok}), 4)",
        "neutral": f"round((({ntok}) - ({npos}) - ({nneg}))::DOUBLE / ({ntok}), 4)",
        "positive": f"round(({npos})::DOUBLE / ({ntok}), 4)",
        "compound": (
            f"round(({total}) / sqrt(({total}) * ({total}) + {COMPOUND_ALPHA}), 4)"
        ),
    }


def sql_lang_scores(x: str) -> dict[str, str]:
    toks = sql_tokenize_ws(f"lower({x})")
    return {
        lang: f"len(list_filter({toks}, t -> list_contains({sql_list(words)}, t)))"
        for lang, words in LANG_MARKERS.items()
    }


def sql_lang_id(x: str) -> str:
    scores = sql_lang_scores(x)
    langs = sorted(scores)
    m = "greatest(" + ", ".join(scores[lang] for lang in langs) + ")"
    whens = " ".join(f"WHEN ({scores[lang]}) = ({m}) THEN {sq(lang)}" for lang in langs)
    return f"CASE WHEN ({m}) = 0 THEN 'und' {whens} ELSE 'und' END"


def sql_token_count_bpe(x: str) -> str:
    return f"CAST(len(regexp_extract_all({x}, {sq(TOKEN_PATTERN)})) AS BIGINT)"


def sql_quality(x: str) -> dict[str, str]:
    """= operators.text_analysis.quality_score → named exprs."""
    toks = sql_tokenize_ws(x)
    n_chars = f"length({x})"
    n_tokens = f"greatest(len({toks}), 1)"
    n_punct = f"len(regexp_extract_all({x}, {sq(PUNCT_CLASS)}))"
    n_digit = f"len(regexp_extract_all({x}, '[0-9]'))"
    # floor(x*1e4 + 0.5)/1e4 — IEEE-identical to the engine's r4 (see
    # operators/text_analysis.quality_score) regardless of round() ties
    r4 = "floor(({0}) * 10000.0 + 0.5) / 10000.0".format
    mean_tok = r4(
        f"COALESCE(list_sum(list_transform({toks}, t -> length(t))), 0)::DOUBLE"
        f" / ({n_tokens})"
    )
    punct_ratio = r4(f"({n_punct})::DOUBLE / greatest({n_chars}, 1)")
    digit_ratio = r4(f"({n_digit})::DOUBLE / greatest({n_chars}, 1)")
    toks_lower = sql_tokenize_ws(f"lower({x})")
    n_stop = f"len(list_filter({toks_lower}, t -> list_contains({STOPWORD_LIST}, t)))"
    stop_ratio = r4(f"({n_stop})::DOUBLE / ({n_tokens})")
    score = r4(
        f"greatest(0.0, least(1.0, 1.0 - abs(({mean_tok}) - 5.5) / 10.0"
        f" - ({punct_ratio}) - ({digit_ratio})))"
    )
    return {
        "n_chars": f"CAST({n_chars} AS BIGINT)",
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_token_len": mean_tok,
        "punct_ratio": punct_ratio,
        "digit_ratio": digit_ratio,
        "stop_ratio": stop_ratio,
        "quality": score,
    }


def sql_r4(x: str) -> str:
    """= operators.text_analysis.r4 — floor(x*1e4+0.5)/1e4, IEEE-identical
    to the engine regardless of round() tie policy."""
    return f"floor(({x}) * 10000.0 + 0.5) / 10000.0"


def sql_quality_classify(x: str) -> dict[str, str]:
    """= operators.text_analysis.quality_classify: same frozen weights
    (imported, not re-typed), same left-to-right sum association so the
    IEEE double result is bit-identical, hard-sigmoid score, keep from the
    raw margin sign."""
    q = sql_quality(x)
    len_feat = f"least({q['n_tokens']}, 100)::DOUBLE / 100.0"
    z = (
        f"({QGATE_BIAS!r} + {QGATE_W_LEN!r} * ({len_feat})"
        f" + {QGATE_W_MTL!r} * abs(({q['mean_token_len']}) - 5.5)"
        f" + {QGATE_W_PUNCT!r} * ({q['punct_ratio']})"
        f" + {QGATE_W_DIGIT!r} * ({q['digit_ratio']})"
        f" + {QGATE_W_STOP!r} * ({q['stop_ratio']}))"
    )
    score = sql_r4(f"greatest(0.0, least(1.0, 0.25 * {z} + 0.5))")
    return {"gate_score": score, "keep": f"(({z}) >= 0)::INT"}


def sql_scrub_pii(x: str) -> dict[str, str]:
    """= operators.text_analysis.scrub_pii (same pattern constants, same
    email → URL → phone replacement order; counts on the original text)."""
    scrubbed = f"regexp_replace({x}, {sq(PII_EMAIL)}, '<EMAIL>', 'g')"
    scrubbed = f"regexp_replace({scrubbed}, {sq(PII_URL)}, '<URL>', 'g')"
    scrubbed = f"regexp_replace({scrubbed}, {sq(PII_PHONE)}, '<PHONE>', 'g')"
    return {
        "scrubbed": scrubbed,
        "n_emails": f"CAST(len(regexp_extract_all({x}, {sq(PII_EMAIL)})) AS INT)",
        "n_phones": f"CAST(len(regexp_extract_all({x}, {sq(PII_PHONE)})) AS INT)",
        "n_urls": f"CAST(len(regexp_extract_all({x}, {sq(PII_URL)})) AS INT)",
    }


def sql_dot(a: str, b: str, dim_expr: str) -> str:
    return f"list_sum(list_transform(range(1, {dim_expr} + 1), i -> {a}[i] * {b}[i]))"


def sql_lsh_bucket(v: str, planes: list[list[float]]) -> str:
    """= operators.similarity.lsh_bucket with the SAME deterministic
    hyperplanes embedded as list literals."""
    terms = []
    for p, row in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        dot = f"list_sum(list_transform(range(1, {len(row)} + 1), i -> ({v})[i] * ({lit})[i]))"
        terms.append(f"CASE WHEN ({dot}) > 0 THEN {1 << p} ELSE 0 END")
    return "(" + " + ".join(terms) + ")"


def sql_html_strip(x: str) -> str:
    """= functions.text.html_strip_native (F4)."""
    c = f"regexp_replace({x}, '(?s)<(script|style)[^>]*>.*?</(script|style)>', '', 'g')"
    return f"regexp_replace({c}, '<[^>]+>', '', 'g')"


def sql_summary(x: str, k: int = 2) -> str:
    """= functions.nlp.summary_native: first k extracted-and-trimmed sentences."""
    from .functions.nlp import SENTENCE_PATTERN

    sents = (
        f"list_transform(regexp_extract_all({x}, {sq(SENTENCE_PATTERN)}),"
        " sent_lv -> trim(sent_lv))"
    )
    # COALESCE: DuckDB array_to_string of an empty slice is NULL; Spark
    # concat_ws of an empty array is '' — pin the Spark behavior
    return f"COALESCE(array_to_string(({sents})[1:{k}], ' '), '')"


def sql_keywords_native(x: str, k: int = 5) -> str:
    """= functions.nlp.keywords_native: TF top-k over cleaned stopword-
    filtered tokens; ties (count, token) ascending on the negated count."""
    toks = sql_remove_stopwords(sql_tokenize_ws(sql_clean_text(x)))
    # lambda vars carry a _lv suffix: DuckDB's binder can resolve a bare
    # single-letter lambda variable against a same-named table column
    scored = (
        f"list_transform(list_distinct({toks}), "
        f"d_lv -> {{'neg_cnt': -len(list_filter({toks}, x2_lv -> x2_lv = d_lv)), 'tok': d_lv}})"
    )
    return f"list_transform(list_sort({scored})[1:{k}], kw_lv -> kw_lv.tok)"


def sql_winnow(x: str, n: int = 4, window: int = 4) -> str:
    """= operators.text_analysis.winnow_fingerprints, sorted for canonical
    cross-engine order (Spark keeps first occurrence, DuckDB does not
    guarantee one)."""
    toks = sql_tokenize_ws(f"lower({x})")
    grams = sql_ngrams(toks, n)
    h = f"list_transform({grams}, g -> {sql_hash64('g')})"
    full = (
        f"list_transform(range(1, len({h}) - {window - 2}), "
        f"i -> list_min(({h})[i : i + {window - 1}]))"
    )
    short = f"[list_min({h})]"
    return (
        f"list_sort(list_distinct(CASE WHEN len({h}) >= {window} THEN {full} "
        f"WHEN len({h}) > 0 THEN {short} ELSE CAST([] AS BIGINT[]) END))"
    )


def _sql_ivf_d2(v: str, row: list[float]) -> str:
    lit = "[" + ", ".join(repr(x) for x in row) + "]"
    return (
        f"list_sum(list_transform(range(1, {len(row)} + 1), "
        f"i -> (({v})[i] - ({lit})[i]) * (({v})[i] - ({lit})[i])))"
    )


def sql_ivf_probe_cells(v: str, centroids: list[list[float]], probes: int) -> str:
    """= the ``probes`` cells of operators.similarity._ivf_assign: sort
    {d, c} structs (field-order lexicographic, i.e. the kernel's stable
    argsort over distances), slice, project."""
    pairs = "[" + ", ".join(
        f"{{'d': {_sql_ivf_d2(v, row)}, 'c': {i}}}"
        for i, row in enumerate(centroids)
    ) + "]"
    return f"list_transform(list_sort({pairs})[1:{probes}], s_lv -> s_lv.c)"


def sql_ivf_cell(v: str, centroids: list[list[float]]) -> str:
    """= the nearest cell of operators.similarity._ivf_assign with the SAME
    centroid literals: argmin squared L2, ties -> lowest cell id
    (first-match CASE chain)."""
    dists = []
    for row in centroids:
        lit = "[" + ", ".join(repr(x) for x in row) + "]"
        d2 = (
            f"list_sum(list_transform(range(1, {len(row)} + 1), "
            f"i -> (({v})[i] - ({lit})[i]) * (({v})[i] - ({lit})[i])))"
        )
        dists.append(f"({d2})"
        )
    m = "least(" + ", ".join(dists) + ")"
    whens = " ".join(
        f"WHEN {d2} = ({m}) THEN {i}" for i, d2 in enumerate(dists)
    )
    return f"(CASE {whens} ELSE -1 END)"


def sql_gopher(x: str) -> dict[str, str]:
    """= operators.text_analysis.gopher_rules: same frozen thresholds
    (imported), same r4 rounding, same token/stopword semantics."""
    from .operators.text_analysis import (
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_TOKENS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_STOP_HITS,
        GOPHER_MIN_TOKENS,
        GOPHER_MTL_MAX,
        GOPHER_MTL_MIN,
        GOPHER_STOPS,
    )

    toks = sql_tokenize_ws(x)
    low_toks = sql_tokenize_ws(f"lower({x})")
    nt = f"greatest(len({toks}), 1)"
    mtl = sql_r4(
        f"coalesce(list_sum(list_transform({toks}, t -> CAST(length(t) AS DOUBLE))), 0.0)"
        f" / {nt}"
    )
    sym = sql_r4(f"len(regexp_extract_all({x}, '[#…]')) / {nt}")
    alpha = sql_r4(
        f"len(list_filter({toks}, t -> regexp_matches(t, '[A-Za-z]'))) / {nt}"
    )
    stops = sql_list(GOPHER_STOPS)
    hits = (
        f"len(list_distinct(list_filter({low_toks}, t -> list_contains({stops}, t))))"
    )
    keep = (
        f"CASE WHEN len({toks}) BETWEEN {GOPHER_MIN_TOKENS} AND {GOPHER_MAX_TOKENS}"
        f" AND ({mtl}) BETWEEN {GOPHER_MTL_MIN!r} AND {GOPHER_MTL_MAX!r}"
        f" AND ({sym}) <= {GOPHER_MAX_SYMBOL_RATIO!r}"
        f" AND ({alpha}) >= {GOPHER_MIN_ALPHA_FRAC!r}"
        f" AND ({hits}) >= {GOPHER_MIN_STOP_HITS}"
        f" THEN 1 ELSE 0 END"
    )
    return {
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_token_len": mtl,
        "symbol_ratio": sym,
        "alpha_frac": alpha,
        "stop_hits": f"CAST({hits} AS BIGINT)",
        "keep": f"CAST({keep} AS INTEGER)",
    }
