"""Sketch-assisted EXACT aggregations — operators whose 100 TB shape is
"bound the shuffle with a fixed-size sketch, then pay exact cost only
for the survivors".

Reference scope note: the reference runtime (pkg/mapreduce, ~1.7k LoC
Go) ships word count (mrapps/wc.go) but nothing frequency-ranked; this
module is part of the training-data-pipeline surface (vocabulary /
boilerplate-token diagnostics at corpus scale).

``heavy_hitters`` finds every token with frequency ≥ threshold·N
EXACTLY, without ever shuffling the full vocabulary:

1. build a Count-Min Sketch (Cormode & Muthukrishnan 2005) over token
   occurrences — d=4 seeded xxhash64 rows × w=4096 counters. The groupBy
   key space is d·w = 16384 regardless of vocabulary, so map-side
   combine bounds the shuffle at ~16k rows per partition even on a
   100 TB crawl whose raw vocabulary is hundreds of millions;
2. collect the (model-sized) counter matrix and inline it as plan
   literals; a token's estimate is ``least()`` over its d counters —
   a pure scan-side expression;
3. second corpus pass: keep only tokens whose ESTIMATE passes the
   threshold (CMS never underestimates → no true hitter is lost),
   and exact-count just those — the vocabulary that reaches the
   final shuffle is the candidate set, not the corpus's.

The final filter re-checks the EXACT count, so CMS collisions cannot
add a false hitter: the result equals the naive
``GROUP BY word HAVING count >= ceil(threshold·N)`` verbatim — which
is exactly what the DuckDB oracle runs (the sketch is a provably
invisible implementation detail, so the oracle stays sharp and
simple).

Thresholds are integer milli-units (``threshold_milli``/1000), and the
cutoff is ``ceil`` in integer arithmetic — float thresholds and
half-even rounding are the cross-engine divergence class this repo
has been bitten by twice (see round-9 notes in SCALE.md).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

CMS_DEPTH = 4            # salted hash rows
CMS_WIDTH = 4096         # counters per row — d·w = 16k shuffle keys


def _cms_pos(salt: int, col):
    """Counter index of a token under one salted hash row. xxhash64 —
    native, codegen'd — not the md5+conv+substring chain the ORACLED
    portable signatures must use: the sketch is provably invisible to
    the result (CMS never underestimates under ANY hash; the final
    exact HAVING removes impostors), so it takes the cheapest hash.
    r14 measurement: 8 md5 chains per token occurrence (4 per pass)
    were pure per-task overhead — guide §1.2 step 2 (per-task work)."""
    return F.pmod(F.xxhash64(F.lit(salt), col), F.lit(CMS_WIDTH))


def heavy_hitters(documents: DataFrame,
                  threshold_milli: int = 5) -> DataFrame:
    """Every token whose exact occurrence count is ≥
    ceil(threshold_milli/1000 · total_tokens), with its exact count —
    found via the CMS candidate pass above. Returns
    ``(word, n_occurrences)`` ordered by count desc, word asc."""
    if not isinstance(threshold_milli, int) or threshold_milli < 1:
        raise ValueError("threshold_milli must be a positive integer "
                         "(milli-units; float thresholds diverge "
                         "cross-engine)")
    tok = documents.select(F.explode(tokens("text")).alias("word"))

    # pass 1: the sketch — count-combinable and keyed on a FIXED d*w
    # space, so the shuffle is bounded per partition no matter the
    # vocabulary. The total token count is NOT a separate pass: every
    # token lands in exactly one depth-0 counter, so n_total is the sum
    # of the depth-0 row of the collected sketch — the corpus is
    # scanned exactly twice (sketch + exact re-check), matching the
    # module's two-pass framing.
    rows = (
        tok.select(F.explode(F.array(*[
                F.struct(F.lit(d).alias("d"),
                         _cms_pos(d, F.col("word")).alias("p"))
                for d in range(CMS_DEPTH)])).alias("s"))
        .groupBy("s.d", "s.p").count().collect())
    cms = [[0] * CMS_WIDTH for _ in range(CMS_DEPTH)]
    for r in rows:
        cms[int(r["d"])][int(r["p"])] = int(r["count"])
    n_total = sum(cms[0])
    min_count = -(-n_total * threshold_milli // 1000) if n_total else 1
    # pass 2: scan-side estimate (least over the d plan-literal rows)
    # gates which tokens reach the exact count — CMS overestimates, so
    # no true hitter is dropped; the exact HAVING removes impostors.
    # The WHOLE estimate is ONE F.expr parse — not F.lit(<python list>)
    # (one py4j trip per element: ~2 s for a 4096-long list) and not
    # four separate array parses glued with py4j combinators (r14: the
    # per-call overhead of element_at/least/cast round trips still cost
    # ~0.4 s of driver time). The parsed plan is the identical
    # ArrayType-literal tree.
    def row_est(d: int, row: list[int]) -> str:
        arr = "array(" + ",".join(f"{v}L" for v in row) + ")"
        return (f"element_at({arr}, cast(pmod(xxhash64({d}, word), "
                f"{CMS_WIDTH}) as int) + 1)")

    est = F.expr("least(" + ",".join(
        row_est(d, cms[d]) for d in range(CMS_DEPTH)) + ")")
    return (tok.filter(est >= F.lit(min_count))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
            .filter(F.col("n_occurrences") >= min_count)
            .orderBy(F.desc("n_occurrences"), "word"))
