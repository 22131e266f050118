"""Distributed BPE tokenizer training ([EXT]).

Byte-pair-encoding merge learning (Sennrich et al. 2016) over a Spark
corpus: each merge round is ONE distributed aggregation (adjacent
symbol-pair counts, map-side combined) plus a bounded driver argmax
(a single winning pair per round — the same boundedness contract as
the IVF training sample), and the merge application is an Arrow-
batched re-encode of the symbol sequences. Determinism: the winning
pair breaks count ties lexicographically, so the learned merge table
is a pure function of the corpus — pinned against a pure-Python
reference implementation in tests/test_bpe.py.

Scale posture: pair counting shuffles |vocab-pairs| rows per round
(map-side combine collapses per-partition duplicates), never the
corpus; the merge application is map-only. Production practice trains
on a corpus SAMPLE (deterministic md5-bucket, see
queries/pipeline_q.train_test_split) — merge quality saturates long
before the full 100 TB is counted; encoding with a LEARNED table
(encode_with_merges) is a pure map and does run corpus-wide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: end-of-word marker, appended to each word's last symbol (standard
#: BPE: prevents merges from crossing word boundaries when encoding)
EOW = "</w>"


def words_to_symbols(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc, word_symbols): one row per word occurrence, value = the
    word split into single-character symbols with EOW appended to the
    last one. Uses the shared tokenizer (queries/sqlfrag.tokens_sql)."""
    from fegis_spark.operators.dedup import tokens

    words = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("w")
    )
    chars = F.split(F.col("w"), "")
    syms = F.transform(
        chars,
        lambda c, i: F.when(i == F.size(chars) - 1, F.concat(c, F.lit(EOW))).otherwise(c),
    )
    return words.select("doc", syms.alias("syms"))


def _merge_round(syms: DataFrame) -> tuple[tuple[str, str] | None, int]:
    """One distributed count round: adjacent-pair histogram → the
    winning (most frequent, ties lexicographic) pair. Driver cost is
    ONE row."""
    pairs = syms.select(
        F.explode(
            F.when(
                F.size("syms") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("syms") - 1),
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("a"),
                        F.element_at("syms", i + 1).alias("b"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
        ).alias("p")
    )
    top = (
        pairs.groupBy("p.a", "p.b")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "a", "b")
        .limit(1)
        .collect()
    )
    if not top:
        return None, 0
    r = top[0]
    return (r["a"], r["b"]), r["n"]


def _apply_merge(syms: DataFrame, pair: tuple[str, str]) -> DataFrame:
    """Map-only merge application via an Arrow-batched pandas_udf:
    replace every non-overlapping left-to-right (a, b) adjacency with
    the concatenated symbol — the exact sequential semantics the
    Python reference uses (overlaps resolve leftmost-first)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    a, b = pair

    @pandas_udf("array<string>")
    def merge(col):
        def one(seq):
            out, i, n = [], 0, len(seq)
            while i < n:
                if i + 1 < n and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            return out

        return pd.Series([one(list(s)) for s in col])

    return syms.select("doc", merge(F.col("syms")).alias("syms"))


def train_bpe(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_merges: int = 50,
    min_pair_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn `num_merges` BPE merges from the corpus. Returns the
    ordered merge table (the tokenizer artifact). Stops early when the
    best remaining pair drops below min_pair_count.

    Each round: 1 pair-count aggregation + 1 map-only re-encode. The
    working symbol table materializes through localCheckpoint
    (eager=True) each round — same recipe as connected_components:
    persist() alone caches blocks but leaves the LOGICAL plan growing
    one pandas_udf layer per round, and past ~100 merges plan analysis
    overflows the JVM stack (caught by the >=100-merge depth test,
    tests/test_bpe.py). Checkpointing truncates lineage to O(1) depth
    at any merge count; the predecessor round's blocks are freed as
    soon as the next round is materialized (bounded memory)."""
    from fegis_spark.operators.dedup import _free_local_checkpoint

    syms = words_to_symbols(df, text_col, id_col).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair, n = _merge_round(syms)
        if pair is None or n < min_pair_count:
            break
        merges.append(pair)
        nxt = _apply_merge(syms, pair).localCheckpoint(eager=True)
        _free_local_checkpoint(syms)
        syms = nxt
    _free_local_checkpoint(syms)
    return merges


def encode_with_merges(
    df: DataFrame, text_col: str, id_col: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Corpus-wide encode with a learned merge table: ONE Arrow-batched
    pandas_udf applies all merges in rank order per word (the standard
    greedy BPE encode) — pure map, no shuffle, linear at any corpus
    size. Output: (doc, tokens array<string>, n_tokens)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from fegis_spark.operators.dedup import tokens

    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("array<string>")
    def enc(col):
        def encode_word(w):
            seq = list(w)
            if not seq:
                return []
            seq[-1] = seq[-1] + EOW
            while len(seq) >= 2:
                best, bi = None, -1
                for i in range(len(seq) - 1):
                    r = ranks.get((seq[i], seq[i + 1]))
                    if r is not None and (best is None or r < best):
                        best, bi = r, i
                if best is None:
                    break
                seq[bi : bi + 2] = [seq[bi] + seq[bi + 1]]
            return seq

        return pd.Series(
            [[t for w in ws for t in encode_word(w)] for ws in col]
        )

    base = df.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("ws")
    )
    out = base.select("doc", enc(F.col("ws")).alias("tokens"))
    return out.withColumn("n_tokens", F.size("tokens"))


def merge_rounds_audit(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> list[tuple[int, str, str, int]]:
    """First-k merge rounds WITH their winning counts — the
    oracle-checkable surface of BPE training (queries/textstats_q.py
    `bpe_merge_audit`): each round's (pair, count) is a pure function
    of the corpus given the (count DESC, a, b) total order, and the
    merge application is replayable in SQL as a string fold, so a
    cross-engine value match certifies the merge-selection rule and
    the leftmost-non-overlapping application semantics the long
    (rows-only) train_bpe run uses. Same round structure as train_bpe,
    checkpoint-free because k is small (3 plan layers, far from the
    ~100-round analyzer depth limit documented in CLAUDE.md)."""
    syms = words_to_symbols(df, text_col, id_col)
    out: list[tuple[int, str, str, int]] = []
    for step in range(1, k + 1):
        pair, n = _merge_round(syms)
        if pair is None:
            break
        out.append((step, pair[0], pair[1], int(n)))
        if step < k:
            syms = _apply_merge(syms, pair)
    return out
