"""Driver-contract queries: Spark implementations + DuckDB oracle SQL.

Each entry in :data:`QUERIES` is a (spark, sf_dir) -> DataFrame callable
exercising one operator family from SURVEY.md §2 over the driver's
testdata tables; :data:`ORACLES` holds the equivalent SQL DuckDB runs
on the same parquet files. Column names/aliases match exactly on both
sides (the driver hash-compares values per sorted column name).

Float-parity rules used throughout:
* identical arithmetic expression trees on both sides (same fold order);
* embeddings cast to double BEFORE multiplication on both sides;
* big aggregated sums rounded to 2 decimals (absorbs partial-agg
  reorder noise), similarity scores to 4.

Signature-based queries (MinHash/SRP) have no SQL equivalent —
they are registered without an oracle and get the driver's weaker
rows-only check; their semantics are pinned by tests/ instead.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from comparador_de_registros_spark.operators import doc_dedup, textstats
from comparador_de_registros_spark.operators.cluster import connected_components
from comparador_de_registros_spark.operators.compare import (
    date_criteria_cols,
    locality_criteria_cols,
)
from comparador_de_registros_spark.functions.normalize import padroniza_col
from comparador_de_registros_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    ivf_topk,
    ivf_topk_indexed,
    srp_candidate_pairs,
)
from comparador_de_registros_spark.plans.configs import DedupConfig

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _source_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet file/dir (names + sizes +
    mtimes) for cache keys — changes whenever the source is
    regenerated, without scanning the data."""
    import hashlib

    h = hashlib.sha256()
    if os.path.isdir(path):
        for entry in sorted(os.scandir(path), key=lambda e: e.name):
            st = entry.stat()
            h.update(f"{entry.name}:{st.st_size}:{st.st_mtime_ns}".encode())
    else:
        st = os.stat(path)
        h.update(
            f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}".encode()
        )
    return h.hexdigest()[:12]


_TOKENS = lambda c: F.filter(  # noqa: E731
    F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != F.lit("")
)

_SQL_TOKENS = (
    "list_filter(string_split_regex(lower(trim({c})), '\\s+'), x -> x <> '')"
)

# ---------------------------------------------------------------------------
# A. dedup family (documents)
# ---------------------------------------------------------------------------


def q_exact_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups under token-set normalization. The strict
    whitespace-collapse key is vacuous on this testdata (zero byte-exact
    dups at every sf — round-1 gate compared empty vs empty), so the
    gate uses the token-set key, which has 20+ real groups here and
    exercises the grouping + min-rep semantics."""
    docs = _read(spark, sf_dir, "documents")
    return doc_dedup.exact_dup_clusters(
        docs, key=doc_dedup.tokenset_key_col(F.col("text"))
    ).select("doc_hash", "n_docs", "canonical_id")


SQL_EXACT_DUP_CLUSTERS = f"""
SELECT md5(array_to_string(list_sort(list_distinct(
         {_SQL_TOKENS.format(c='text')})), ' ')) AS doc_hash,
       count(*) AS n_docs,
       min(doc_id) AS canonical_id
FROM documents
GROUP BY 1
HAVING count(*) >= 2
"""


def q_tokenset_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents whose distinct token sets are identical (J = 1)."""
    return (
        doc_dedup.ngram_jaccard_pairs(
            _read(spark, sf_dir, "documents"), threshold=1.0
        )
        .select("a", "b")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_dedup.ngram_jaccard_pairs(
        _read(spark, sf_dir, "documents"), threshold=0.8
    )


def _sql_jaccard(threshold: str, select: str) -> str:
    return f"""
WITH dtok AS (
  SELECT DISTINCT doc_id AS id,
         unnest({_SQL_TOKENS.format(c='text')}) AS token
  FROM documents
),
sizes AS (SELECT id, count(*) AS sz FROM dtok GROUP BY id),
inter AS (
  SELECT l.id AS a, r.id AS b, count(*) AS i
  FROM dtok l JOIN dtok r USING (token)
  WHERE l.id < r.id
  GROUP BY 1, 2
),
jacc AS (
  SELECT a, b,
         round(i / (sa.sz + sb.sz - i), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON inter.a = sa.id
  JOIN sizes sb ON inter.b = sb.id
)
SELECT {select} FROM jacc WHERE jaccard >= {threshold}
"""


SQL_TOKENSET_DUP_PAIRS = _sql_jaccard("1.0", "a, b")
SQL_NGRAM_JACCARD_PAIRS = _sql_jaccard("0.8", "a, b, jaccard")


def q_minhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH + substring near-dup pairs (char-12 shingle Jaccard
    >= 0.8). No SQL oracle (signature stage); pinned by
    tests/test_dedup_pipeline.py against the brute-force oracle."""
    verified = doc_dedup.signature_dup_pairs(
        _read(spark, sf_dir, "documents"), DedupConfig()
    )
    out = verified.where("is_dup").select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        "jaccard",
    )
    # materialize the (tiny) pair table, then release the fat
    # signature/scored caches signature_dup_pairs holds — otherwise
    # each gate invocation leaks a session-lifetime cached plan.
    # localCheckpoint blocks are ContextCleaner-managed (freed on GC),
    # unlike CacheManager entries which only an explicit unpersist
    # frees.
    out = out.localCheckpoint(eager=True)
    doc_dedup.release_signature_run(verified)
    return out


def q_doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: near-dup clustering of the documents table (signature
    pairs -> connected components -> singleton attach)."""
    docs = _read(spark, sf_dir, "documents")
    verified = doc_dedup.signature_dup_pairs(docs, DedupConfig())
    edges = verified.where("is_dup").select("a", "b")
    comp = connected_components(edges)
    out = (
        docs.select(F.col("doc_id").cast("string").alias("conv_id"))
        .join(comp, "conv_id", "left")
        .select(
            F.col("conv_id").cast("long").alias("doc_id"),
            F.coalesce("cluster_id", F.col("conv_id")).cast("long").alias("cluster_id"),
        )
    )
    # materialize (one small row per doc), then release the signature
    # caches — see q_minhash_dup_pairs for why
    out = out.localCheckpoint(eager=True)
    doc_dedup.release_signature_run(verified)
    return out


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.fingerprint_col(F.col("text")).alias("fingerprint")
    )


SQL_DOC_FINGERPRINTS = """
SELECT doc_id,
       substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 16)
         AS fingerprint
FROM documents
"""

# ---------------------------------------------------------------------------
# B. text analysis (documents)
# ---------------------------------------------------------------------------


def q_text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count_col(F.col("text")).alias("n_tokens"),
        F.length("text").alias("len_chars"),
    )


SQL_TEXT_TOKEN_COUNTS = f"""
SELECT doc_id,
       len({_SQL_TOKENS.format(c='text')}) AS n_tokens,
       length(text) AS len_chars
FROM documents
"""


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.lang_id_col(F.col("text")).alias("lang_guess")
    )


def _sql_lang_id() -> str:
    toks = _SQL_TOKENS.format(c="text")
    hits = {
        lang: (
            f"len(list_filter({toks}, x -> x IN "
            f"({', '.join(repr(w) for w in words)})))"
        )
        for lang, words in textstats.LANG_MARKERS.items()
    }
    best = f"greatest({hits['en']}, {hits['pt']}, {hits['es']})"
    # mirror lang_id_col: priority order en, pt, es; 'und' when all zero
    return f"""
SELECT doc_id,
  CASE
    WHEN {hits['en']} > 0 AND {hits['en']} = {best} THEN 'en'
    WHEN {hits['pt']} > 0 AND {hits['pt']} = {best} THEN 'pt'
    WHEN {hits['es']} > 0 AND {hits['es']} = {best} THEN 'es'
    ELSE 'und'
  END AS lang_guess
FROM documents
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textstats.quality_score_col(F.col("text")).alias("quality")
    )


def _sql_quality() -> str:
    toks = _SQL_TOKENS.format(c="text")
    all_markers = [w for m in textstats.LANG_MARKERS.values() for w in m]
    stop_hits = (
        f"len(list_filter({toks}, x -> x IN "
        f"({', '.join(repr(w) for w in all_markers)})))"
    )
    # NOTE: summing per-language hit counts equals filtering on the union
    # only if the marker lists are disjoint — they are (asserted in tests).
    return f"""
SELECT doc_id,
  round((
    least(length(text) / 200.0, 1.0)
    + least({stop_hits} / greatest(len({toks}), 1) * 4.0, 1.0)
    + (1 - least(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
                 / greatest(length(text), 1) * 5.0, 1.0))
    + (1 - least(length(regexp_replace(text, '[^0-9]', '', 'g'))
                 / greatest(length(text), 1) * 5.0, 1.0))
  ) / 4.0, 6) AS quality
FROM documents
"""


def q_padroniza_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat token-frequency table (SURVEY §2.4) over padronized text."""
    docs = _read(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(padroniza_col(F.col("text")), " "), lambda t: t != F.lit("")
    )
    return (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


# padroniza in SQL: testdata text is ASCII so the accent fold is a no-op;
# strip non-[a-z0-9 ], drop pt particles, strip one kinship suffix.
_SQL_PADRONIZA = """
trim(regexp_replace(
  array_to_string(
    list_filter(
      string_split_regex(
        regexp_replace(lower(trim({c})), '[^a-z0-9\\s]', '', 'g'),
        '\\s+'),
      x -> x <> '' AND x NOT IN ('de','do','da','dos','das')),
    ' '),
  ' (junior|jr|neto|bisneto|filho|filha|sobrinha|sobrinho|segundo|terceiro)$',
  ''))
"""

SQL_PADRONIZA_TOKEN_FREQ = f"""
WITH p AS (SELECT {_SQL_PADRONIZA.format(c='text')} AS p FROM documents),
toks AS (
  SELECT unnest(list_filter(string_split(p, ' '), x -> x <> '')) AS token
  FROM p WHERE p <> ''
)
SELECT token, count(*) AS cnt FROM toks GROUP BY token
"""

def q_corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data corpus filter: keep documents above a
    quality floor and within a length band, emit the kept ids + stats."""
    docs = _read(spark, sf_dir, "documents")
    t = F.col("text")
    return (
        docs.select(
            "doc_id",
            textstats.quality_score_col(t).alias("quality"),
            textstats.token_count_col(t).alias("n_tokens"),
        )
        .where(
            (F.col("quality") >= 0.5)
            & F.col("n_tokens").between(10, 5000)
        )
    )


def _sql_quality_filter() -> str:
    inner = _sql_quality().strip().rstrip()
    toks = _SQL_TOKENS.format(c="text")
    return f"""
WITH q AS ({inner}),
t AS (SELECT doc_id, len({toks}) AS n_tokens FROM documents)
SELECT q.doc_id, q.quality, t.n_tokens
FROM q JOIN t ON q.doc_id = t.doc_id
WHERE q.quality >= 0.5 AND t.n_tokens BETWEEN 10 AND 5000
"""


def q_distinct_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup materialization: one row per distinct normalized text,
    keeping the canonical (min doc_id) representative."""
    docs = _read(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim("text")), r"\s+", " "))
    return (
        docs.select(norm.alias("doc_hash"), "doc_id")
        .groupBy("doc_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "doc_hash")
    )


SQL_DISTINCT_DOCS = """
SELECT min(doc_id) AS doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS doc_hash
FROM documents
GROUP BY 2
"""


# ---------------------------------------------------------------------------
# C. comparator family over derived pairs (dates, locality, names)
# ---------------------------------------------------------------------------

_DATE_CRITERIA_NAMES = ("dt_iguais", "dt_ap_1digi", "dt_inv_dia", "dt_inv_mes", "dt_inv_ano")


def q_compare_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipo D comparator (native) over consecutive-order date pairs."""
    o = _read(spark, sf_dir, "orders")
    o1 = o.select(
        F.col("o_orderkey").alias("key_a"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("d1"),
    )
    o2 = o.select(
        (F.col("o_orderkey") - 1).alias("key_a"),
        F.col("o_orderkey").alias("key_b"),
        F.date_format("o_orderdate", "yyyyMMdd").alias("d2"),
    )
    pairs = o1.join(o2, "key_a")
    crits = date_criteria_cols(F.col("d1"), F.col("d2"))
    return pairs.select(
        "key_a",
        "key_b",
        *[c.alias(n) for c, n in zip(crits, _DATE_CRITERIA_NAMES)],
    )


SQL_COMPARE_DATES = """
WITH p AS (
  SELECT o1.o_orderkey AS key_a, o2.o_orderkey AS key_b,
         strftime(o1.o_orderdate, '%Y%m%d') AS d1,
         strftime(o2.o_orderdate, '%Y%m%d') AS d2
  FROM orders o1 JOIN orders o2 ON o2.o_orderkey = o1.o_orderkey + 1
)
SELECT key_a, key_b,
  CASE WHEN d1 = d2 THEN 1.0 ELSE 0.0 END AS dt_iguais,
  CASE WHEN levenshtein(d1, d2) = 1 THEN 1.0 ELSE 0.0 END AS dt_ap_1digi,
  CASE WHEN levenshtein(d1, d2) = 2
        AND reverse(substr(d1, 7, 2)) = substr(d2, 7, 2)
       THEN 1.0 ELSE 0.0 END AS dt_inv_dia,
  CASE WHEN levenshtein(d1, d2) = 2
        AND reverse(substr(d1, 7, 2)) <> substr(d2, 7, 2)
        AND reverse(substr(d1, 5, 2)) = substr(d2, 5, 2)
       THEN 1.0 ELSE 0.0 END AS dt_inv_mes,
  CASE WHEN levenshtein(d1, d2) = 2
        AND reverse(substr(d1, 7, 2)) <> substr(d2, 7, 2)
        AND reverse(substr(d1, 5, 2)) <> substr(d2, 5, 2)
        AND levenshtein(substr(d1, 1, 4), substr(d2, 1, 4)) = 2
        AND array_to_string(list_sort(string_split(substr(d1, 1, 4), '')), '')
          = array_to_string(list_sort(string_split(substr(d2, 1, 4), '')), '')
       THEN 1.0 ELSE 0.0 END AS dt_inv_ano
FROM p
"""

_LOC_CRITERIA_NAMES = ("uf_igual", "uf_prox", "local_igual", "local_prox")


def _loc_codes(c):
    """Derived 6-char locality codes: digits-only numeric part (keeps
    the soundex fallback branch unreachable => SQL-expressible) and a
    2-letter UF from a fixed set."""
    uf1 = (
        F.when(c % 3 == 0, "SP").when(c % 3 == 1, "RJ").otherwise("MG")
    )
    uf2 = (
        F.when(c % 5 == 0, "SQ").when(c % 5 == 1, "RJ").when(c % 5 == 2, "SP")
        .when(c % 5 == 3, "MG").otherwise(uf1)
    )
    cod1 = F.lpad(((c * 7) % 10000).cast("string"), 4, "0")
    cod2 = F.lpad(((c * 7 + (c % 3)) % 10000).cast("string"), 4, "0")
    return F.concat(uf1, cod1), F.concat(uf2, cod2)


def q_compare_localities(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    c = F.col("c_custkey")
    l1, l2 = _loc_codes(c)
    base = cust.select(c.alias("c_custkey"), l1.alias("loc_a"), l2.alias("loc_b"))
    crits = locality_criteria_cols(F.col("loc_a"), F.col("loc_b"))
    return base.select(
        "c_custkey",
        "loc_a",
        "loc_b",
        *[cc.alias(n) for cc, n in zip(crits, _LOC_CRITERIA_NAMES)],
    )


SQL_COMPARE_LOCALITIES = """
WITH codes AS (
  SELECT c_custkey,
    (CASE c_custkey % 3 WHEN 0 THEN 'SP' WHEN 1 THEN 'RJ' ELSE 'MG' END)
      AS uf1,
    (CASE c_custkey % 5 WHEN 0 THEN 'SQ' WHEN 1 THEN 'RJ' WHEN 2 THEN 'SP'
          WHEN 3 THEN 'MG'
          ELSE (CASE c_custkey % 3 WHEN 0 THEN 'SP' WHEN 1 THEN 'RJ' ELSE 'MG' END)
     END) AS uf2,
    lpad(((c_custkey * 7) % 10000)::VARCHAR, 4, '0') AS cod1,
    lpad(((c_custkey * 7 + (c_custkey % 3)) % 10000)::VARCHAR, 4, '0') AS cod2
  FROM customer
)
SELECT c_custkey,
  uf1 || cod1 AS loc_a,
  uf2 || cod2 AS loc_b,
  CASE WHEN uf1 = uf2 THEN 1.0 ELSE 0.0 END AS uf_igual,
  -- 2-char UFs with edit distance 2 differ in the first letter, so the
  -- soundex fallback (0.3) is unreachable: lev 1 is the only near case
  CASE WHEN uf1 <> uf2 AND levenshtein(uf1, uf2) = 1 THEN 0.5 ELSE 0.0 END
    AS uf_prox,
  CASE WHEN cod1 = cod2 THEN 1.0 ELSE 0.0 END AS local_igual,
  CASE WHEN cod1 <> cod2 AND levenshtein(cod1, cod2) = 1 THEN 0.8
       WHEN cod1 <> cod2 AND levenshtein(cod1, cod2) = 2 THEN 0.5
       ELSE 0.0 END AS local_prox
FROM codes
"""

_NAME_CRITERIA_NAMES = ("prim_frag_igual", "ult_frag_igual", "qtd_frag_iguais", "qtd_frag_abrev")


def q_compare_names_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipo N criteria 1-3 + abbreviation bonus, fully native, over part
    names vs their first-word-abbreviated variants (the frequency and
    soundex criteria need broadcast maps / phonetics — covered by the
    pandas-UDF engine and its parity tests, not SQL-expressible)."""
    part = _read(spark, sf_dir, "part")
    name_a = F.lower(F.trim(F.col("p_name")))
    name_b = F.regexp_replace(name_a, "^([a-z])[a-z]+", "$1")
    base = part.select(
        "p_partkey", name_a.alias("name_a"), name_b.alias("name_b")
    )
    p1, p2 = _TOKENS(F.col("name_a")), _TOKENS(F.col("name_b"))
    t1 = F.size(p1)
    inter = F.size(F.filter(p1, lambda x: F.array_contains(p2, x)))
    ab1 = F.size(
        F.filter(
            p1,
            lambda x: (F.length(x) == 1)
            & F.exists(p2, lambda y: y.startswith(x)),
        )
    )
    ab2 = F.size(
        F.filter(
            p2,
            lambda x: (F.length(x) == 1)
            & F.exists(p1, lambda y: y.startswith(x)),
        )
    )
    return base.select(
        "p_partkey",
        F.when(F.element_at(p1, 1) == F.element_at(p2, 1), 1.0)
        .otherwise(0.0)
        .alias("prim_frag_igual"),
        F.when(F.element_at(p1, -1) == F.element_at(p2, -1), 1.0)
        .otherwise(0.0)
        .alias("ult_frag_igual"),
        (inter / t1).alias("qtd_frag_iguais"),
        ((ab1 + ab2) / t1 * 0.5).alias("qtd_frag_abrev"),
    )


def _sql_compare_names() -> str:
    p1 = _SQL_TOKENS.format(c="name_a")
    p2 = _SQL_TOKENS.format(c="name_b")
    return f"""
WITH base AS (
  SELECT p_partkey,
         lower(trim(p_name)) AS name_a,
         regexp_replace(lower(trim(p_name)), '^([a-z])[a-z]+', '\\1') AS name_b
  FROM part
),
toks AS (
  SELECT p_partkey, {p1} AS p1, {p2} AS p2 FROM base
)
SELECT p_partkey,
  CASE WHEN p1[1] = p2[1] THEN 1.0 ELSE 0.0 END AS prim_frag_igual,
  CASE WHEN p1[-1] = p2[-1] THEN 1.0 ELSE 0.0 END AS ult_frag_igual,
  len(list_filter(p1, x -> list_contains(p2, x))) / len(p1)
    AS qtd_frag_iguais,
  (len(list_filter(p1, x -> length(x) = 1
       AND len(list_filter(p2, y -> starts_with(y, x))) > 0))
   + len(list_filter(p2, x -> length(x) = 1
       AND len(list_filter(p1, y -> starts_with(y, x))) > 0)))
  / len(p1) * 0.5 AS qtd_frag_abrev
FROM toks
"""

def q_compare_texts_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipo T criteria 1-3 + the date-like guard flag, fully native,
    over document-text prefixes paired with their successor doc."""
    docs = _read(spark, sf_dir, "documents")
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.substring(F.lower(F.trim("text")), 1, 60).alias("t_a"),
    )
    b = docs.select(
        (F.col("doc_id") - 1).alias("id_a"),
        F.col("doc_id").alias("id_b"),
        F.substring(F.lower(F.trim("text")), 1, 60).alias("t_b"),
    )
    pairs = a.join(b, "id_a")
    p1, p2 = _TOKENS(F.col("t_a")), _TOKENS(F.col("t_b"))
    t1 = F.size(p1)
    date_like = (
        (t1 == 1)
        & (F.size(p2) == 1)
        & F.element_at(p1, 1).rlike("^[0-9]{8}$")
        & F.element_at(p2, 1).rlike("^[0-9]{8}$")
    )
    return pairs.select(
        "id_a",
        "id_b",
        F.when(F.element_at(p1, 1) == F.element_at(p2, 1), 1.0)
        .otherwise(0.0)
        .alias("prim_frag_igual"),
        F.when(F.element_at(p1, -1) == F.element_at(p2, -1), 1.0)
        .otherwise(0.0)
        .alias("ult_frag_igual"),
        (F.size(F.filter(p1, lambda x: F.array_contains(p2, x))) / t1).alias(
            "qtd_frag_iguais"
        ),
        F.when(date_like, 1).otherwise(0).alias("is_date_like"),
    )


def _sql_compare_texts() -> str:
    p1 = _SQL_TOKENS.format(c="t_a")
    p2 = _SQL_TOKENS.format(c="t_b")
    return f"""
WITH a AS (SELECT doc_id AS id_a, substr(lower(trim(text)), 1, 60) AS t_a
           FROM documents),
b AS (SELECT doc_id - 1 AS id_a, doc_id AS id_b,
             substr(lower(trim(text)), 1, 60) AS t_b
      FROM documents),
p AS (SELECT id_a, id_b, {p1} AS p1, {p2} AS p2 FROM a JOIN b USING (id_a))
SELECT id_a, id_b,
  CASE WHEN p1[1] = p2[1] THEN 1.0 ELSE 0.0 END AS prim_frag_igual,
  CASE WHEN p1[-1] = p2[-1] THEN 1.0 ELSE 0.0 END AS ult_frag_igual,
  len(list_filter(p1, x -> list_contains(p2, x))) / len(p1)
    AS qtd_frag_iguais,
  CASE WHEN len(p1) = 1 AND len(p2) = 1
        AND regexp_matches(p1[1], '^[0-9]{{8}}$')
        AND regexp_matches(p2[1], '^[0-9]{{8}}$')
       THEN 1 ELSE 0 END AS is_date_like
FROM p
"""


def pairs_compare_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input construction for the L gate: deterministic pt-BR-style
    address pairs derived from part names. Shared by the Spark query
    AND the independent Python-scored oracle (tools/make_expected.py)
    — only the INPUTS come from here; the two scorers are disjoint."""
    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    cls = k % 6
    via = F.concat(F.lit("rua "), F.lower(F.trim("p_name")))
    via_abbr = F.concat(F.lit("r "), F.lower(F.trim("p_name")))
    num = (k % 2000 + 1).cast("string")
    num_a = F.when(cls == 3, F.lit("sn")).otherwise(num)
    compl = F.concat(F.lit("apto "), (k % 90 + 1).cast("string"))
    addr_a = F.concat_ws(" ", via, num_a, compl)
    addr_b = (
        F.when(cls == 0, addr_a)
        .when(cls == 1, F.concat_ws(" ", via_abbr, num, compl))
        .when(cls == 2, F.concat_ws(" ", via, (k % 2000 + 3).cast("string"), compl))
        .when(cls == 3, F.concat_ws(" ", via, F.lit("sn"), compl))
        .when(cls == 4, F.concat_ws(" ", via, num, F.lit("fundos")))
        .otherwise(F.concat_ws(" ", F.lit("avenida central"), num))
    )
    return part.select(
        k.alias("key"), addr_a.alias("addr_a"), addr_b.alias("addr_b")
    )


def q_compare_addresses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipo L (address) comparator gate: structural parse (via / numero /
    complemento state machine) + 6 weighted component similarities over
    deterministic pt-BR-style addresses derived from part names
    (reference: src/comparators/logradouro/comparador.py:17-55).
    Planted classes cover every branch: identical, abbreviated via
    ('rua' -> 'r'), different numero, sn<->sn (the 0.5 branch),
    different complemento, and unrelated via. Not SQL-expressible
    (tokenizer + state machine + LCS token_set_ratio) -> pinned-snapshot
    oracle generated by the INDEPENDENT pure-Python reference-parity
    scorer (tools/make_expected.py)."""
    from comparador_de_registros_spark.operators.compare import score_pairs
    from comparador_de_registros_spark.plans.spec import (
        ComparePair,
        CompareSpec,
        FieldType,
    )

    pairs = pairs_compare_addresses(spark, sf_dir)
    spec = CompareSpec(
        pairs=(ComparePair("addr_a", "addr_b", FieldType.ADDRESS, "addr"),)
    )
    scored = score_pairs(pairs, spec)
    return scored.select(
        "key", "addr_a", "addr_b", *spec.criterion_columns(),
        F.col(spec.total_column).alias("nota"),
    )


def pairs_compare_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input construction for the M gate (see pairs_compare_addresses
    for the sharing rationale)."""
    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    cls = k % 5
    price = F.col("p_retailprice").cast("decimal(18,2)")
    plain = price.cast("string")
    ptbr = F.regexp_replace(plain, r"\.", ",")
    ints = (k % 5000 + 10).cast("string")
    num_a = F.when(cls == 3, ints).otherwise(plain)
    num_b = (
        F.when(cls == 0, ptbr)
        .when(cls == 1, (price + 0.01).cast("decimal(18,2)").cast("string"))
        .when(cls == 2, (price * 1.02).cast("decimal(18,2)").cast("string"))
        .when(cls == 3, (k % 5000 + 11).cast("string"))
        .otherwise(F.when(k % 7 == 0, F.lit("n/a")).otherwise(
            (price * 7).cast("decimal(18,2)").cast("string")
        ))
    )
    return part.select(
        k.alias("key"), num_a.alias("num_a"), num_b.alias("num_b")
    )


def q_compare_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tipo M (number) comparator gate: Decimal semantics over RAW
    un-padronized strings (reference: src/comparators/numeros.py:67-115,
    dispatch quirk comparaRegistros.py:59-60). Planted classes: equal
    across locale renderings (pt-BR comma-decimal vs dot), +-1 integer
    (both-int tolerance 5 + same rounding bucket), ~2% relative delta,
    far apart, and an unparsable side (all-zero row). Decimal
    ROUND_HALF_UP bucketing is not portable to DuckDB SQL ->
    pinned-snapshot oracle generated by the INDEPENDENT pure-Python
    scorer (tools/make_expected.py)."""
    from comparador_de_registros_spark.operators.compare import score_pairs
    from comparador_de_registros_spark.plans.spec import (
        ComparePair,
        CompareSpec,
        FieldType,
    )

    pairs = pairs_compare_numbers(spark, sf_dir)
    spec = CompareSpec(
        pairs=(ComparePair("num_a", "num_b", FieldType.NUMBER, "num"),)
    )
    scored = score_pairs(pairs, spec)
    return scored.select(
        "key", "num_a", "num_b", *spec.criterion_columns(),
        F.col(spec.total_column).alias("nota"),
    )


def pairs_compare_names_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input construction for the N/T soundex gate (see
    pairs_compare_addresses for the sharing rationale)."""
    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    name_a = F.lower(F.trim("p_name"))
    name_b = F.regexp_replace(
        F.regexp_replace(name_a, "(?<=[a-z])d", "t"),
        "(?<=[a-z])m", "n",
    )
    return part.select(
        k.alias("key"), name_a.alias("name_a"), name_b.alias("name_b")
    )


def q_compare_names_soundex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N/T criterion 6 gate (qtd_frag_muito_parec): fragments that
    differ textually but share a soundex code (reference:
    src/comparators/nomes.py:72-79; zip-truncated positional
    comparison). name_b applies phonetic-class-preserving inner
    substitutions (d->t, m->n — same soundex digit, first letter
    untouched) so the criterion fires on real rows; covers both the N
    and T comparators over the same planted pairs. DuckDB has no
    soundex -> pinned-snapshot oracle generated by the INDEPENDENT
    pure-Python scorer (tools/make_expected.py)."""
    from comparador_de_registros_spark.operators.compare import score_pairs
    from comparador_de_registros_spark.plans.spec import (
        ComparePair,
        CompareSpec,
        FieldType,
    )

    pairs = pairs_compare_names_soundex(spark, sf_dir)
    spec = CompareSpec(
        pairs=(
            ComparePair("name_a", "name_b", FieldType.NAME, "nome"),
            ComparePair("name_a", "name_b", FieldType.TEXT, "txt"),
        )
    )
    scored = score_pairs(pairs, spec)
    return scored.select(
        "key", *spec.criterion_columns(), F.col(spec.total_column).alias("nota"),
    )


# --- the full scoring engine, driver-gated ---------------------------------

# SQL-expressible criteria emitted by the engine gate (everything except
# the soundex criterion nome_qtd_frag_muito_parec — DuckDB has no
# soundex; it IS computed by the engine, just not selected). nota_sql
# sums these in this exact order on both sides (bit-stable fold).
_ENGINE_COLS = [
    "nome_prim_frag_igual", "nome_ult_frag_igual", "nome_qtd_frag_iguais",
    "nome_qtd_frag_raros", "nome_qtd_frag_comuns", "nome_qtd_frag_abrev",
    "dt_dt_iguais", "dt_dt_ap_1digi", "dt_dt_inv_dia", "dt_dt_inv_mes",
    "dt_dt_inv_ano",
    "loc_uf_igual", "loc_uf_prox", "loc_local_igual", "loc_local_prox",
]


def q_score_pairs_engine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END pair-scoring engine gate: N (pandas UDF with positional
    frequency maps via the JOIN-based freq path — no driver collect) +
    D and C (native) over deterministic part-derived pairs with planted
    date-edit classes. Exercises operators/compare.py:score_pairs
    including build/attach of frequency artifacts; the oracle reproduces
    every criterion incl. rare/common frequency ratios in SQL."""
    from comparador_de_registros_spark.operators.compare import score_pairs
    from comparador_de_registros_spark.plans.spec import (
        ComparePair,
        CompareSpec,
        FieldType,
    )

    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    # planted frequency structure so the rare/common branches actually
    # fire at the driver's sf: every name ends with 'comum' (last-position
    # count >1000 at sf0.01 -> c_common), and every 11th key appends a
    # per-key token 'zz<k>' (last-position count 2 -> c_rare)
    name_a = F.concat(
        F.lower(F.trim("p_name")),
        F.lit(" comum"),
        F.when(k % 11 == 0, F.concat(F.lit(" zz"), k.cast("string"))).otherwise(
            F.lit("")
        ),
    )
    name_b = F.regexp_replace(name_a, "^([a-z])[a-z]+", "$1")
    y = (k % 30 + 1990).cast("string")
    mo = F.lpad((k % 12 + 1).cast("string"), 2, "0")
    dy = F.lpad((k % 28 + 1).cast("string"), 2, "0")
    d1 = F.concat(y, mo, dy)
    cls = k % 5
    nxt = ((F.substring(dy, 2, 1).cast("int") + 1) % 10).cast("string")
    d2 = (
        F.when(cls == 0, d1)
        .when(cls == 1, F.concat(y, mo, F.substring(dy, 1, 1), nxt))
        .when(cls == 2, F.concat(y, mo, F.reverse(dy)))
        .when(cls == 3, F.concat(y, F.reverse(mo), dy))
        .otherwise(F.concat((k % 30 + 1997).cast("string"), mo, dy))
    )
    l1, l2 = _loc_codes(k)
    pairs = part.select(
        k.alias("key"),
        name_a.alias("name_a"),
        name_b.alias("name_b"),
        d1.alias("d1"),
        d2.alias("d2"),
        l1.alias("loc_a"),
        l2.alias("loc_b"),
    )
    spec = CompareSpec(
        pairs=(
            ComparePair("name_a", "name_b", FieldType.NAME, "nome"),
            ComparePair("d1", "d2", FieldType.DATE, "dt"),
            ComparePair("loc_a", "loc_b", FieldType.LOCALITY, "loc"),
        )
    )
    scored = score_pairs(pairs, spec, freq_strategy="join")
    total = None
    for c in _ENGINE_COLS:
        total = F.col(c) if total is None else total + F.col(c)
    return scored.select("key", *_ENGINE_COLS, total.alias("nota_sql"))


def _sql_score_engine() -> str:
    raw_a = (
        "lower(trim(p_name)) || ' comum' || "
        "(CASE WHEN p_partkey % 11 = 0 THEN ' zz' || CAST(p_partkey AS VARCHAR) "
        "ELSE '' END)"
    )
    pad_a = _SQL_PADRONIZA.format(c=raw_a)
    pad_b = _SQL_PADRONIZA.format(
        c=f"regexp_replace({raw_a}, '^([a-z])[a-z]+', '\\1')"
    )
    return f"""
WITH base AS (
  SELECT p_partkey AS key,
    {pad_a} AS na,
    {pad_b} AS nb,
    CAST(1990 + p_partkey % 30 AS VARCHAR)
      || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
      || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0') AS d1,
    CASE p_partkey % 5
      WHEN 0 THEN CAST(1990 + p_partkey % 30 AS VARCHAR)
        || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
        || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0')
      WHEN 1 THEN CAST(1990 + p_partkey % 30 AS VARCHAR)
        || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
        || substr(lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0'), 1, 1)
        || CAST((CAST(substr(lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0'), 2, 1) AS INT) + 1) % 10 AS VARCHAR)
      WHEN 2 THEN CAST(1990 + p_partkey % 30 AS VARCHAR)
        || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
        || reverse(lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0'))
      WHEN 3 THEN CAST(1990 + p_partkey % 30 AS VARCHAR)
        || reverse(lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0'))
        || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0')
      ELSE CAST(1997 + p_partkey % 30 AS VARCHAR)
        || lpad(CAST(p_partkey % 12 + 1 AS VARCHAR), 2, '0')
        || lpad(CAST(p_partkey % 28 + 1 AS VARCHAR), 2, '0')
    END AS d2,
    (CASE p_partkey % 3 WHEN 0 THEN 'SP' WHEN 1 THEN 'RJ' ELSE 'MG' END)
      || lpad(((p_partkey * 7) % 10000)::VARCHAR, 4, '0') AS loc_a,
    (CASE p_partkey % 5 WHEN 0 THEN 'SQ' WHEN 1 THEN 'RJ' WHEN 2 THEN 'SP'
          WHEN 3 THEN 'MG'
          ELSE (CASE p_partkey % 3 WHEN 0 THEN 'SP' WHEN 1 THEN 'RJ' ELSE 'MG' END)
     END)
      || lpad(((p_partkey * 7 + (p_partkey % 3)) % 10000)::VARCHAR, 4, '0') AS loc_b
  FROM part
),
ptoks AS (
  SELECT key,
    list_filter(string_split(na, ' '), x -> x <> '') AS p1,
    list_filter(string_split(nb, ' '), x -> x <> '') AS p2,
    d1, d2, loc_a, loc_b
  FROM base
),
-- positional frequency over BOTH sides (freqBuilder semantics: a
-- single-token name counts as first AND last)
vals AS (SELECT na AS v FROM base UNION ALL SELECT nb FROM base),
vtoks AS (
  SELECT list_filter(string_split(v, ' '), x -> x <> '') AS t FROM vals
),
nonempty AS (SELECT t FROM vtoks WHERE len(t) > 0),
tagged AS (
  SELECT 'first' AS part, t[1] AS token FROM nonempty
  UNION ALL SELECT 'last', t[-1] FROM nonempty
  UNION ALL SELECT 'middle', unnest(t[2:len(t)-1]) FROM nonempty WHERE len(t) > 2
),
freq AS (SELECT part, token, count(*) AS cnt FROM tagged GROUP BY 1, 2),
-- the scorer's positional lookups over p1 (nomes.py:45-62):
-- [first]+[middles...]+[last], single token hitting first AND last
rowtok AS (
  SELECT key, 'first' AS part, p1[1] AS token FROM ptoks WHERE len(p1) > 0
  UNION ALL
  SELECT key, 'last', p1[-1] FROM ptoks WHERE len(p1) > 0
  UNION ALL
  SELECT key, 'middle', unnest(p1[2:len(p1)-1]) FROM ptoks WHERE len(p1) > 2
),
rc AS (
  SELECT rowtok.key,
    sum(CASE WHEN coalesce(freq.cnt, 0) < 5 THEN 1 ELSE 0 END) AS n_rare,
    sum(CASE WHEN coalesce(freq.cnt, 0) > 1000 THEN 1 ELSE 0 END) AS n_common
  FROM rowtok LEFT JOIN freq USING (part, token)
  GROUP BY rowtok.key
),
crit AS (
  SELECT p.key,
    CASE WHEN p1[1] = p2[1] THEN 1.0 ELSE 0.0 END AS nome_prim_frag_igual,
    CASE WHEN p1[-1] = p2[-1] THEN 1.0 ELSE 0.0 END AS nome_ult_frag_igual,
    len(list_filter(p1, x -> list_contains(p2, x))) / len(p1)
      AS nome_qtd_frag_iguais,
    rc.n_rare / len(p1) AS nome_qtd_frag_raros,
    -(rc.n_common / len(p1)) AS nome_qtd_frag_comuns,
    (len(list_filter(p1, x -> length(x) = 1
         AND len(list_filter(p2, y -> starts_with(y, x))) > 0))
     + len(list_filter(p2, x -> length(x) = 1
         AND len(list_filter(p1, y -> starts_with(y, x))) > 0)))
    / len(p1) * 0.5 AS nome_qtd_frag_abrev,
    CASE WHEN d1 = d2 THEN 1.0 ELSE 0.0 END AS dt_dt_iguais,
    CASE WHEN levenshtein(d1, d2) = 1 THEN 1.0 ELSE 0.0 END AS dt_dt_ap_1digi,
    CASE WHEN levenshtein(d1, d2) = 2
          AND reverse(substr(d1, 7, 2)) = substr(d2, 7, 2)
         THEN 1.0 ELSE 0.0 END AS dt_dt_inv_dia,
    CASE WHEN levenshtein(d1, d2) = 2
          AND reverse(substr(d1, 7, 2)) <> substr(d2, 7, 2)
          AND reverse(substr(d1, 5, 2)) = substr(d2, 5, 2)
         THEN 1.0 ELSE 0.0 END AS dt_dt_inv_mes,
    CASE WHEN levenshtein(d1, d2) = 2
          AND reverse(substr(d1, 7, 2)) <> substr(d2, 7, 2)
          AND reverse(substr(d1, 5, 2)) <> substr(d2, 5, 2)
          AND levenshtein(substr(d1, 1, 4), substr(d2, 1, 4)) = 2
          AND array_to_string(list_sort(string_split(substr(d1, 1, 4), '')), '')
            = array_to_string(list_sort(string_split(substr(d2, 1, 4), '')), '')
         THEN 1.0 ELSE 0.0 END AS dt_dt_inv_ano,
    CASE WHEN substr(loc_a, 1, 2) = substr(loc_b, 1, 2) THEN 1.0 ELSE 0.0 END
      AS loc_uf_igual,
    -- 2-char UFs at edit distance 2 differ in the first letter, so the
    -- soundex fallback (0.3) is unreachable on these codes
    CASE WHEN substr(loc_a, 1, 2) <> substr(loc_b, 1, 2)
          AND levenshtein(substr(loc_a, 1, 2), substr(loc_b, 1, 2)) = 1
         THEN 0.5 ELSE 0.0 END AS loc_uf_prox,
    CASE WHEN substr(loc_a, 3, 4) = substr(loc_b, 3, 4) THEN 1.0 ELSE 0.0 END
      AS loc_local_igual,
    CASE WHEN substr(loc_a, 3, 4) <> substr(loc_b, 3, 4)
          AND levenshtein(substr(loc_a, 3, 4), substr(loc_b, 3, 4)) = 1 THEN 0.8
         WHEN substr(loc_a, 3, 4) <> substr(loc_b, 3, 4)
          AND levenshtein(substr(loc_a, 3, 4), substr(loc_b, 3, 4)) = 2 THEN 0.5
         ELSE 0.0 END AS loc_local_prox
  FROM ptoks p JOIN rc ON p.key = rc.key
)
SELECT key, {", ".join(_ENGINE_COLS)},
  {" + ".join(_ENGINE_COLS)} AS nota_sql
FROM crit
"""


def q_name_freq_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional name-frequency aggregation (SURVEY §2.4) over part
    names: first/middle/last token counts in one pass, single-token
    names counting as first AND last (freqBuilder quirk)."""
    part = _read(spark, sf_dir, "part")
    both = part.select(F.lower(F.trim("p_name")).alias("value"))
    toks = both.select(
        F.filter(F.split("value", r"\s+"), lambda t: t != F.lit("")).alias("toks")
    ).where(F.size("toks") > 0)
    tagged = toks.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.lit("first").alias("part"),
                        F.element_at("toks", 1).alias("token"),
                    ),
                    F.struct(
                        F.lit("last").alias("part"),
                        F.element_at("toks", -1).alias("token"),
                    ),
                ),
                F.transform(
                    F.slice("toks", 2, F.greatest(F.size("toks") - 2, F.lit(0))),
                    lambda t: F.struct(F.lit("middle").alias("part"), t.alias("token")),
                ),
            )
        ).alias("pt")
    )
    return (
        tagged.select("pt.part", "pt.token")
        .groupBy("part", "token")
        .agg(F.count("*").alias("cnt"))
    )


def _sql_name_freq() -> str:
    toks = _SQL_TOKENS.format(c="p_name")
    return f"""
WITH t AS (SELECT {toks} AS toks FROM part WHERE len({toks}) > 0),
tagged AS (
  SELECT 'first' AS part, toks[1] AS token FROM t
  UNION ALL
  SELECT 'last' AS part, toks[-1] AS token FROM t
  UNION ALL
  SELECT 'middle' AS part, unnest(toks[2:len(toks)-1]) AS token
  FROM t WHERE len(toks) > 2
)
SELECT part, token, count(*) AS cnt FROM tagged GROUP BY part, token
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag + cumulative session ids): classic
    window-function shape over the events stream, 10-minute gap."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # TIMESTAMP_NTZ has no direct long cast in Spark 4; session TZ is
    # pinned UTC so the intermediate timestamp cast is exact
    epoch = F.col("ts").cast("timestamp").cast("long")
    gap = epoch - F.lag(epoch).over(w)
    with_break = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > 600), 1).otherwise(0).alias("brk"),
    )
    sess = with_break.withColumn(
        "session_id",
        F.sum("brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


SQL_EVENTS_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) > 600
           OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              IS NULL
         THEN 1 ELSE 0 END AS brk
  FROM events
),
s AS (
  -- CAST: DuckDB's windowed sum returns HUGEINT (int128), which the
  -- driver's value hash renders differently from Spark's BIGINT even
  -- when every value is equal (round-1 red cell).
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# D. analytics family (scan/agg/join/window/sort coverage)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregation (map-side partial agg, one shuffle)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + top-n with deterministic tiebreak."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


SQL_TOP_CUSTOMER_REVENUE = """
SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""


def q_orders_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window running sum (ordered in-partition fold => deterministic)."""
    orders = _read(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.where(F.col("o_custkey") % 100 == 0).select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


SQL_ORDERS_RUNNING_TOTAL = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
  AS running_total
FROM orders
WHERE o_custkey % 100 = 0
"""


def q_events_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversation-assembly operator shape on the events table:
    per-user event-type stream concatenated in (ts, event_id) order —
    the same array_sort(collect_list(struct)) pattern as
    operators/assembly.py."""
    ev = _read(spark, sf_dir, "events")
    assembled = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("s"),
        F.count("*").alias("n_events"),
    )
    return assembled.select(
        "user_id",
        F.array_join(F.transform("s", lambda x: x["event_type"]), "|").alias(
            "event_stream"
        ),
        "n_events",
    )


SQL_EVENTS_ASSEMBLY = """
SELECT user_id,
       string_agg(event_type, '|' ORDER BY ts, event_id) AS event_stream,
       count(*) AS n_events
FROM events
GROUP BY user_id
"""


def q_events_minute_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("minute", "ts").alias("minute"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


SQL_EVENTS_MINUTE_STATS = """
SELECT date_trunc('minute', ts) AS minute, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-fact broadcast join + aggregation by part type."""
    li = _read(spark, sf_dir, "lineitem")
    part = _read(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


SQL_PART_TYPE_REVENUE = """
SELECT p_type,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def q_nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region -> nation -> customer 3-way join."""
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


SQL_NATION_CUSTOMER_COUNTS = """
SELECT r_name, n_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

# ---------------------------------------------------------------------------
# E. similarity search (embeddings)
# ---------------------------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = cosine_topk(emb, queries, k=5)
    return top.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


SQL_COSINE_TOPK = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
scored AS (
  SELECT q.query_id, e.vec_id,
    list_sum(list_transform(list_zip(qv, v), p -> p[1] * p[2]))
      / (sqrt(list_sum(list_transform(qv, x -> x * x)))
         * sqrt(list_sum(list_transform(v, x -> x * x)))) AS c
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY c DESC, vec_id)
           AS rank,
         round(round(c, 6), 4) AS cosine
  FROM scored
)
SELECT query_id, vec_id, rank, cosine FROM ranked WHERE rank <= 5
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN over the embeddings table.

    Gate geometry: ``nprobe == nlist`` probes every cell, which makes
    IVF provably exact — the driver value-checks it against the SAME
    DuckDB brute-force oracle as ``cosine_topk`` (different physical
    plan, identical result). The approximate regime (nprobe < nlist,
    scan fraction ~nprobe/nlist) is pinned by
    tests/test_training_ops.py recall gates on clustered vectors."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_topk(emb, queries, k=5, nlist=8, nprobe=8)
    return top.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN through the PERSISTED index (build once per sf_dir:
    centroids side table + cell-partitioned corpus), exercising the
    production read path — no per-call retraining, probe cells pushed
    into the scan as a partition filter (pruning plan-asserted in
    tests/test_training_ops.py). Same exact-at-nprobe==nlist geometry
    as ``ivf_topk``, so the brute-force DuckDB SQL is its oracle too."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # the cached index is keyed by a CONTENT fingerprint of the source
    # parquet (file names + sizes + mtimes), under a repo-local cache
    # dir — not a world-shared /tmp path keyed only by the sf-dir
    # basename, where a regenerated fixture or a second checkout would
    # silently serve a stale or foreign index
    sf_tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    src = os.path.join(sf_dir, "embeddings.parquet")
    fp = _source_fingerprint(src)
    cache_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
    )
    path = os.path.join(cache_root, f"ivf_index_{sf_tag}_{fp}")
    if not os.path.exists(os.path.join(path, "corpus", "_SUCCESS")):
        build_ivf_index(emb, path, nlist=8)
    queries = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_topk_indexed(spark, path, queries, k=5, nprobe=8)
    return top.select(
        "query_id", "vec_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def q_embedding_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (SRP-LSH bucketed) near-duplicate vectors.

    The testdata embeddings are near-orthogonal (max cosine ~0.5 — no
    true near-dups), so the gate plants deterministic twins: vectors
    0..199 get a copy under vec_id+10^6 with a ±3% per-element
    deterministic perturbation (cosine ~0.9995). The query reports the
    twin pairs SRP recovers at min_cosine 0.9 — a value-checkable,
    non-vacuous result (round 1 returned incidental low-cosine pairs
    under a 16-bucket geometry and ran a driver-side ``.first()`` dim
    probe; both fixed). Semantics also pinned by
    tests/test_training_ops.py against the brute-force path."""
    emb = _read(spark, sf_dir, "embeddings")
    twins = emb.where(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: (
                x
                * (
                    F.lit(1.0)
                    + ((F.col("vec_id") + i) % 7 - 3).cast("double") / 100.0
                )
            ).cast("float"),
        ).alias("embedding"),
    )
    augmented = emb.select("vec_id", "embedding").unionByName(twins)
    return srp_candidate_pairs(augmented, min_cosine=0.9)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # dedup family
    "exact_dup_clusters": q_exact_dup_clusters,
    "tokenset_dup_pairs": q_tokenset_dup_pairs,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_dup_pairs": q_minhash_dup_pairs,
    "doc_dedup_clusters": q_doc_dedup_clusters,
    "doc_fingerprints": q_doc_fingerprints,
    "distinct_docs": q_distinct_docs,
    # text analysis / corpus curation
    "text_token_counts": q_text_token_counts,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "padroniza_token_freq": q_padroniza_token_freq,
    "corpus_quality_filter": q_corpus_quality_filter,
    # comparators / frequency tables
    "compare_dates": q_compare_dates,
    "compare_localities": q_compare_localities,
    "compare_names_basic": q_compare_names_basic,
    "compare_texts_basic": q_compare_texts_basic,
    "compare_addresses": q_compare_addresses,
    "compare_numbers": q_compare_numbers,
    "compare_names_soundex": q_compare_names_soundex,
    "name_freq_positional": q_name_freq_positional,
    "score_pairs_engine": q_score_pairs_engine,
    "events_sessionize": q_events_sessionize,
    # analytics
    "pricing_summary": q_pricing_summary,
    "top_customer_revenue": q_top_customer_revenue,
    "orders_running_total": q_orders_running_total,
    "events_assembly": q_events_assembly,
    "events_minute_stats": q_events_minute_stats,
    "part_type_revenue": q_part_type_revenue,
    "nation_customer_counts": q_nation_customer_counts,
    # similarity
    "cosine_topk": q_cosine_topk,
    "ivf_topk": q_ivf_topk,
    "ivf_topk_indexed": q_ivf_topk_indexed,
    "embedding_near_pairs": q_embedding_near_pairs,
}

# Signature-based queries (MinHash-LSH, SRP) have no SQL-expressible
# oracle; their driver gate reads a PINNED expected-output parquet
# instead (committed under expected/, regenerated by
# tools/make_expected.py at the pinned seeds/config — a regression
# oracle; the SEMANTICS are pinned by tests/ against brute-force
# oracles). Registered only when the snapshot exists on disk so a
# partial checkout degrades to the rows-only check instead of erroring.
EXPECTED_ORACLE_QUERIES = (
    "minhash_dup_pairs",
    "doc_dedup_clusters",
    "embedding_near_pairs",
    # comparator semantics with no DuckDB equivalent (address state
    # machine + token_set_ratio; Decimal bucket rounding; soundex):
    "compare_addresses",
    "compare_numbers",
    "compare_names_soundex",
)

_EXPECTED_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "expected"
)


def expected_oracle_sql(name: str, sf_tag: str = "sf0.01") -> str | None:
    """DuckDB SQL reading the pinned expected output for ``name`` at
    scale factor ``sf_tag``; None when the snapshot is absent."""
    path = os.path.join(_EXPECTED_DIR, sf_tag, name)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


ORACLES: dict[str, str] = {
    "exact_dup_clusters": SQL_EXACT_DUP_CLUSTERS,
    "tokenset_dup_pairs": SQL_TOKENSET_DUP_PAIRS,
    "ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "doc_fingerprints": SQL_DOC_FINGERPRINTS,
    "text_token_counts": SQL_TEXT_TOKEN_COUNTS,
    "text_lang_id": _sql_lang_id(),
    "text_quality": _sql_quality(),
    "padroniza_token_freq": SQL_PADRONIZA_TOKEN_FREQ,
    "distinct_docs": SQL_DISTINCT_DOCS,
    "corpus_quality_filter": _sql_quality_filter(),
    "compare_dates": SQL_COMPARE_DATES,
    "compare_localities": SQL_COMPARE_LOCALITIES,
    "compare_names_basic": _sql_compare_names(),
    "compare_texts_basic": _sql_compare_texts(),
    "name_freq_positional": _sql_name_freq(),
    "score_pairs_engine": _sql_score_engine(),
    "events_sessionize": SQL_EVENTS_SESSIONIZE,
    "pricing_summary": SQL_PRICING_SUMMARY,
    "top_customer_revenue": SQL_TOP_CUSTOMER_REVENUE,
    "orders_running_total": SQL_ORDERS_RUNNING_TOTAL,
    "events_assembly": SQL_EVENTS_ASSEMBLY,
    "events_minute_stats": SQL_EVENTS_MINUTE_STATS,
    "part_type_revenue": SQL_PART_TYPE_REVENUE,
    "nation_customer_counts": SQL_NATION_CUSTOMER_COUNTS,
    "cosine_topk": SQL_COSINE_TOPK,
    # ivf_topk at nprobe == nlist is exact, so the brute-force SQL is
    # its oracle too (the Spark side takes the IVF cell-join plan);
    # ivf_topk_indexed reads the persisted index (partition-pruned
    # scan) with the same exact geometry
    "ivf_topk": SQL_COSINE_TOPK,
    "ivf_topk_indexed": SQL_COSINE_TOPK,
    # minhash_dup_pairs / doc_dedup_clusters / embedding_near_pairs:
    # signature-based, not SQL-expressible -> pinned expected-output
    # parquet oracles, attached below when the snapshot exists.
}

for _name in EXPECTED_ORACLE_QUERIES:
    _sql = expected_oracle_sql(_name)
    if _sql is not None:
        ORACLES[_name] = _sql
