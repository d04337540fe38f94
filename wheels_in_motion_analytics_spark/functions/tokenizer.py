"""Distributed BPE tokenizer training over the ``documents`` corpus — the
tokenizer-construction half of an LLM data pipeline (the consumption half,
BPE-regex token *counting*, lives in functions/text.py `text_stats`).

Classic word-frequency BPE (Sennrich et al. 2016, public alg): the corpus is
first collapsed to a (word, freq) vocabulary — at 100 TB this is the Zipf
cliff, billions of tokens fold into a few million distinct words in ONE
map-side-combined groupBy — and every merge round then runs on the tiny
vocabulary relation, never on the corpus again:

1. each word becomes a space-separated symbol sequence ``' w o r d </w> '``;
2. per round: count adjacent symbol pairs weighted by word freq (explode +
   sum — one shuffle over the vocab table), pick argmax (count desc, pair
   asc — a 1-row collect: merge selection is the driver-side control flow of
   the algorithm, like connected_components' convergence probe), and apply
   the merge to every sequence.

Merge application is two sweeps of literal space-padded ``replace`` — both
engines (Java ``String.replace`` / DuckDB ``replace``) scan left-to-right
over the ORIGINAL string, so one sweep skips every second pair of an
``a b a b`` run; the second sweep catches it. The two-sweep greedy is applied
IDENTICALLY in the DuckDB oracle (chained CTEs, scalar-subquery argmax), so
the differential is exact by construction; vs textbook BPE it can differ only
on 3+ repetitions of a merged pair inside one word (not present here, and a
bounded artifact at worst).

Registered:
* ``bpe_merge_table`` — the learned merge rules (step, pair) — the actual
  tokenizer artifact;
* ``bpe_train_symbol_freqs`` — post-merge symbol frequencies (top-N), the
  vocabulary a tokenizer build would emit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from wheels_in_motion_analytics_spark.registry import register
from wheels_in_motion_analytics_spark.functions.text import tokens
from wheels_in_motion_analytics_spark.tables import local_frame, table

BPE_MERGES = 3
BPE_TOPN = 40

_SYMS = "filter(split(seq, ' '), x -> x != '')"


def word_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq) vocabulary — the only corpus-sized scan in BPE training."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )


def train_bpe(words: DataFrame, merges: int = BPE_MERGES) -> tuple[list[str], DataFrame]:
    """Run ``merges`` BPE rounds over a (w, f) vocabulary; returns the merge
    list (space-separated pairs, in learn order) and the final (w, f, seq)
    sequences."""
    seqs = words.select(
        "w",
        "f",
        F.concat(
            F.lit(" "),
            F.array_join(F.filter(F.split("w", ""), lambda x: x != ""), " "),
            F.lit(" </w> "),
        ).alias("seq"),
    ).localCheckpoint()
    learned: list[str] = []
    for _ in range(merges):
        pair_counts = (
            seqs.select(
                "f",
                F.explode(
                    F.expr(
                        f"transform(sequence(1, size({_SYMS}) - 1),"
                        f" i -> concat(element_at({_SYMS}, i), ' ',"
                        f" element_at({_SYMS}, i + 1)))"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("f").alias("cnt"))
        )
        best = (
            pair_counts.orderBy(F.desc("cnt"), F.asc("pair")).limit(1).collect()[0].pair
        )
        learned.append(best)
        pat, rep = f" {best} ", f" {best.replace(' ', '')} "
        merged_seq = F.replace(
            F.replace(F.col("seq"), F.lit(pat), F.lit(rep)), F.lit(pat), F.lit(rep)
        )
        # cut lineage each round: the vocab relation is tiny post-groupBy and
        # every round's pair scan would otherwise recompute all prior rounds
        seqs = seqs.withColumn("seq", merged_seq).localCheckpoint()
    return learned, seqs


def _oracle_prefix(merges: int) -> str:
    parts = [
        """
WITH words AS (
  SELECT w, COUNT(*) AS f
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY w
),
seqs0 AS (
  SELECT w, f,
         ' ' || array_to_string(string_split(w, ''), ' ') || ' </w> ' AS seq
  FROM words
)"""
    ]
    for k in range(merges):
        parts.append(
            f""",
pairs{k} AS (
  SELECT syms[i] || ' ' || syms[i+1] AS pair, SUM(f) AS cnt
  FROM (SELECT f, list_filter(string_split(seq, ' '), x -> x <> '') AS syms
        FROM seqs{k}),
       UNNEST(range(1, len(syms))) AS t(i)
  GROUP BY pair
),
best{k} AS (SELECT pair FROM pairs{k} ORDER BY cnt DESC, pair LIMIT 1),
seqs{k + 1} AS (
  SELECT w, f,
    replace(
      replace(seq, ' ' || (SELECT pair FROM best{k}) || ' ',
                   ' ' || replace((SELECT pair FROM best{k}), ' ', '') || ' '),
      ' ' || (SELECT pair FROM best{k}) || ' ',
      ' ' || replace((SELECT pair FROM best{k}), ' ', '') || ' ') AS seq
  FROM seqs{k}
)"""
        )
    return "".join(parts)


_MERGE_ROWS = "\nUNION ALL\n".join(
    f"SELECT {k} AS step, (SELECT pair FROM best{k}) AS pair"
    for k in range(BPE_MERGES)
)


@register(
    "bpe_merge_table",
    category="tokenizer-llm",
    doc="BPE tokenizer training, merge-rule artifact: the learned merge list "
    "(step, pair) after BPE_MERGES rounds over the word-frequency vocabulary "
    "— per round one vocab-sized pair-count shuffle + a 1-row argmax collect "
    "(driver-side control flow, like connected_components' convergence "
    "probe). Oracle: identical chained-CTE rounds in DuckDB.",
    oracle=_oracle_prefix(BPE_MERGES) + "\n" + _MERGE_ROWS,
)
def bpe_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    learned, _ = train_bpe(word_freqs(spark, sf_dir))
    return local_frame(
        spark, [(k, p) for k, p in enumerate(learned)], "step int, pair string"
    )


@register(
    "bpe_train_symbol_freqs",
    category="tokenizer-llm",
    doc="BPE tokenizer training, vocabulary artifact: corpus-weighted symbol "
    "frequencies after BPE_MERGES merge rounds (top-N, freq desc / symbol "
    "asc). The merged symbols ('er', 'e</w>', ...) surface exactly when "
    "their merge rule wins a round in BOTH engines.",
    oracle=_oracle_prefix(BPE_MERGES)
    + f"""
SELECT sym, CAST(SUM(f) AS BIGINT) AS freq
FROM (SELECT f, unnest(list_filter(string_split(seq, ' '), x -> x <> '')) AS sym
      FROM seqs{BPE_MERGES})
GROUP BY sym
ORDER BY freq DESC, sym
LIMIT {BPE_TOPN}
""",
)
def bpe_train_symbol_freqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, seqs = train_bpe(word_freqs(spark, sf_dir))
    return (
        seqs.select("f", F.explode(F.expr(_SYMS)).alias("sym"))
        .groupBy("sym")
        .agg(F.sum("f").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("sym"))
        .limit(BPE_TOPN)
    )


@register(
    "bpe_encode_token_counts",
    category="tokenizer-llm",
    doc="BPE tokenizer APPLICATION via dictionary encoding: the trained "
    "merges tokenize only the DISTINCT-WORD dictionary (vocab-sized), and "
    "documents get their token counts by joining their exploded words back "
    "to the dictionary — the corpus is never re-tokenized row by row. At "
    "100 TB this is the difference between O(vocab) merge work + one "
    "hash join and running the merge loop over every document. Emits "
    "per-document whitespace-word and BPE-token counts.",
    oracle=_oracle_prefix(BPE_MERGES)
    + f"""
, dict AS (
  SELECT w, CAST(len(list_filter(string_split(seq, ' '), x -> x <> ''))
                 AS BIGINT) AS n_sym
  FROM seqs{BPE_MERGES}
),
dw AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
)
SELECT dw.doc_id,
       COUNT(*) AS n_words,
       CAST(SUM(d.n_sym) AS BIGINT) AS n_bpe_tokens
FROM dw JOIN dict d ON d.w = dw.w
GROUP BY dw.doc_id
""",
)
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, seqs = train_bpe(word_freqs(spark, sf_dir))
    dictionary = seqs.select(
        "w", F.size(F.expr(_SYMS)).cast("long").alias("n_sym")
    )
    doc_words = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    )
    return (
        doc_words.join(dictionary, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility — tokens/word and chars/token by language bucket
# ---------------------------------------------------------------------------


@register(
    "tokenizer_fertility_audit",
    category="tokenizer-llm",
    doc="Tokenizer fertility audit: tokens-per-word and chars-per-token of "
    "the trained BPE, broken down by the langid heuristic bucket — THE "
    "standard multilingual tokenizer-quality readout (a tokenizer with "
    "high fertility on some language inflates its training cost and "
    "degrades its effective context). Same dictionary-encoding shape as "
    "bpe_encode_token_counts (merge work is O(vocab), corpus words hash-"
    "join the dictionary — never per-row re-tokenization); language "
    "labels are the marker-stopword vote; ratios are half-up ppm/milli "
    "integers from exact counts.",
    oracle=_oracle_prefix(BPE_MERGES)
    + """
, dict AS (
  SELECT w, CAST(len(list_filter(string_split(seq, ' '), x -> x <> ''))
                 AS BIGINT) AS n_sym
  FROM seqs{M}
),
docs AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
),
lab AS (
  SELECT doc_id, toks,
         len(list_filter(toks, t -> t IN ('the','a','and','of','to','is'))) AS c_en,
         len(list_filter(toks, t -> t IN ('el','la','de','que','y','los'))) AS c_es,
         len(list_filter(toks, t -> t IN ('le','les','des','et','un','une'))) AS c_fr
  FROM docs
),
dw AS (
  SELECT doc_id,
         CASE WHEN c_en = 0 AND c_es = 0 AND c_fr = 0 THEN 'und'
              WHEN c_en >= c_es AND c_en >= c_fr THEN 'en'
              WHEN c_es >= c_fr THEN 'es'
              ELSE 'fr' END AS lang,
         unnest(toks) AS w
  FROM lab
)
SELECT dw.lang,
       CAST(COUNT(DISTINCT dw.doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(d.n_sym) AS BIGINT) AS n_bpe_tokens,
       CAST(SUM(len(dw.w)) AS BIGINT) AS n_chars,
       CAST((CAST(2000000 AS HUGEINT) * SUM(d.n_sym) + COUNT(*))
            // (2 * COUNT(*)) AS BIGINT) AS fertility_ppm,
       CAST((CAST(2000 AS HUGEINT) * SUM(len(dw.w)) + SUM(d.n_sym))
            // (2 * SUM(d.n_sym)) AS BIGINT) AS chars_per_token_milli
FROM dw JOIN dict d ON d.w = dw.w
GROUP BY dw.lang
""".replace("{M}", str(BPE_MERGES)),
)
def tokenizer_fertility_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from wheels_in_motion_analytics_spark.functions.text import LANG_MARKERS, tokens

    c = F.col
    _, seqs = train_bpe(word_freqs(spark, sf_dir))
    dictionary = seqs.select(
        "w", F.size(F.expr(_SYMS)).cast("long").alias("n_sym")
    )
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )

    def count_in(markers):
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(c("toks"), lambda t: F.array_contains(arr, t)))

    lab = docs.select(
        "doc_id",
        "toks",
        count_in(LANG_MARKERS["en"]).alias("c_en"),
        count_in(LANG_MARKERS["es"]).alias("c_es"),
        count_in(LANG_MARKERS["fr"]).alias("c_fr"),
    )
    dw = lab.select(
        "doc_id",
        F.when(
            (c("c_en") == 0) & (c("c_es") == 0) & (c("c_fr") == 0), F.lit("und")
        )
        .when((c("c_en") >= c("c_es")) & (c("c_en") >= c("c_fr")), F.lit("en"))
        .when(c("c_es") >= c("c_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
        .alias("lang"),
        F.explode("toks").alias("w"),
    )
    return (
        dw.join(dictionary, "w")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("n_sym").cast("bigint").alias("n_bpe_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("n_chars"),
            F.expr(
                "CAST((CAST(2000000 AS DECIMAL(38,0)) * sum(n_sym) + count(*))"
                " DIV (2 * count(*)) AS BIGINT)"
            ).alias("fertility_ppm"),
            F.expr(
                "CAST((CAST(2000 AS DECIMAL(38,0)) * sum(length(w)) + sum(n_sym))"
                " DIV (2 * sum(n_sym)) AS BIGINT)"
            ).alias("chars_per_token_milli"),
        )
    )
