"""BPE tokenizer TRAINING (round 5) — vocabulary induction, the one
tokenization capability the family lacked (bpe_pair_counts is a single
counting round; this learns an ordered MERGE TABLE).

Algorithm (Sennrich et al. 2016, the GPT-2/Llama training shape):
start from characters, repeatedly merge the most frequent adjacent
symbol pair. The classic distributed formulation trains on the
WORD-FREQUENCY table, not the corpus: one corpus pass counts distinct
words (explode → groupBy, map-combined — the only pass whose cost
scales with corpus bytes), then every merge round runs on the bounded
(word, count) relation, weighting each word's pairs by its count.
That is exactly how production tokenizer trainers scale to terabyte
corpora, and it is the 100 TB posture here: corpus text is touched
once; rounds touch |vocab| rows.

Per round, the top candidate pairs are ONE bounded driver-side fetch
(the merge table is the model artifact — driver-side by nature, like
bm25's index stats or the IVF centroids), and the longest
provably-safe prefix of them merges in the same pass (see
:func:`bpe_train` for the exact-parity batching argument); each merge
is a codegen ``regexp_replace`` on the word representations. Greedy left-to-right
non-overlapping application is pinned by a pure-Python reference
implementation in tests/test_curation_ops.py (exact merge-table
equality at sf0.01).

Symbol representation: a word's symbols are space-joined (chars to
start, merged symbols later). Merge boundaries use single-char
negative lookarounds ``(?<![^ ])`` / ``(?![^ ])`` — "not preceded/
followed by a non-space" — which (a) are valid bounded-width Java
lookbehind, (b) cover begin/end of string, and (c) consume no
boundary characters, so adjacent occurrences ("a a a" under merge
(a,a)) resolve exactly like the greedy reference: the regex engine
resumes AFTER the matched pair, yielding ["aa","a"].

The per-round ``localCheckpoint`` keeps the plan from growing one
regexp_replace + aggregate layer per round (the same flat-plan device
as dedup.py's connected components); consequently training executes
at CONSTRUCTION time and the query registers rows-only + pytest-gated
(the driver's weaker gate), like dedup_clusters_lsh.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import tokens


def _word_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, wcount, repr): distinct corpus words with frequencies;
    repr = space-joined characters. The single corpus-scaled pass."""
    toks = tokens(F.col(text_col))
    words = (
        df.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("wcount"))
    )
    # chars → space-joined symbols: split on the empty pattern yields
    # one element per character in both engines' semantics.
    return words.withColumn(
        "repr", F.concat_ws(" ", F.split(F.col("word"), ""))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """(left, right, pair_count) over the word table, each word's
    adjacent symbol pairs weighted by wcount."""
    syms = F.split(F.col("repr"), " ")
    base = words.select(
        "wcount", syms.alias("__s"), (F.size(syms) - F.lit(1)).alias("__m")
    )
    return (
        base.filter(F.col("__m") >= 1)
        .select(
            "wcount",
            F.explode(F.sequence(F.lit(1), F.col("__m"))).alias("__i"),
            "__s",
        )
        .select(
            F.element_at("__s", F.col("__i")).alias("left"),
            F.element_at("__s", F.col("__i") + F.lit(1)).alias("right"),
            "wcount",
        )
        .groupBy("left", "right")
        .agg(F.sum("wcount").cast("long").alias("pair_count"))
    )


def _merge_pattern(left: str, right: str) -> str:
    """Regex replacing one adjacent (left, right) symbol pair, greedy
    left-to-right, boundary-safe, adjacency-safe (see module doc)."""
    return (
        r"(?<![^ ])" + re.escape(left) + " " + re.escape(right) + r"(?![^ ])"
    )


def bpe_train(
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
    batch_candidates: int = 64,
) -> list[tuple[int, str, str, int]]:
    """Learn ``num_merges`` BPE merges from the corpus; returns the
    ordered merge table [(rank 1.., left, right, pair_count)].
    Deterministic: ties break on (left asc, right asc). Stops early
    when no pair remains.

    BATCHED rounds (r9, VERDICT r8 #5): instead of one Spark
    round-trip per merge rank, each round fetches the top
    ``batch_candidates`` pairs and applies the longest provably-safe
    prefix in ONE pass — EXACTLY the serial greedy result (pinned by
    the pure-Python reference parity test), with the job count
    divided by the per-round acceptance. The safety argument:

    - merging pair p cannot change the count of any pair sharing NO
      symbol with p (the merge rewrites only adjacencies that overlap
      an occurrence of p), so a pairwise-disjoint prefix of the
      ranked candidates keeps its counts through the batch;
    - every pair a merge CREATES or changes is bounded by the old
      count of some pair that OVERLAPS the accepted symbols, and the
      highest such count is the first overlapping candidate in the
      ranked list (or the last collected count when the list is full
      — unseen pairs are bounded by it). Accepting only disjoint
      candidates whose count is STRICTLY above that boundary
      guarantees no created/changed pair can outrank them (ties are
      excluded because a created pair with an equal count could win
      the (left, right) tie-break);
    - ALIASING (r10, closes the r9 advisory): the old-count bound
      fails when an accepted merge's concatenation ``left+right``
      spells a symbol that ALREADY EXISTS in the corpus via a
      different merge history (e.g. 'ab'+'c' after 'abc' was minted
      by 'a'+'bc'): pairs containing that symbol gain occurrences,
      so their post-merge count is old+created — not bounded by any
      old count. The trainer therefore keeps a driver-side symbol
      vocabulary (distinct chars at start, + every applied
      concatenation; a superset — symbols whose occurrences are all
      consumed stay listed, which only makes the check more
      conservative). When an accepted candidate's concatenation hits
      the vocabulary, it becomes the LAST accept of the round: it is
      safe at its own position (only non-aliasing merges precede
      it), but nothing ranked after it can be soundly admitted. The
      created symbol also joins ``syms`` so later candidates naming
      it count as overlapping for the boundary scan;
    - SELF-PAIRS (r10): an accepted ``(l, l)`` merge creates pairs
      (e.g. ``(ll, l)`` from odd runs) out of its OWN occurrences;
      they are bounded by ``floor(count/2)`` of the accepted pair,
      not by the boundary, so once a self-pair with count c is
      accepted, only candidates with count strictly above ``c // 2``
      may follow it in the batch;
    - the ranked order of the accepted prefix is the serial
      tie-break order, so the emitted ranks match merge-by-merge.

    The round-1 argmax is always safe, so every round accepts ≥ 1
    merge and progress is guaranteed; ``batch_candidates=1``
    degenerates to the serial loop. A 32k-vocab run is therefore
    ~32k/acceptance serial rounds (2 jobs each) instead of 64k jobs —
    still driver-sequenced (the merge table is inherently ordered);
    for corpora whose top pairs heavily share symbols the worst case
    remains one merge per round.
    """
    words = _word_table(df, text_col).localCheckpoint(eager=True)
    # Driver-side symbol vocabulary for the aliasing guard: distinct
    # characters at start (one tiny job — alphabet-sized), plus every
    # applied concatenation. A SUPERSET of the live corpus symbols,
    # which is the conservative direction for the alias check.
    vocab: set[str] = {
        r["__sym"]
        for r in words.select(
            F.explode(F.split(F.col("repr"), " ")).alias("__sym")
        )
        .distinct()
        .collect()
    }
    merges: list[tuple[int, str, str, int]] = []
    k = max(2, batch_candidates)
    while len(merges) < num_merges:
        cand = (
            _pair_counts(words)
            .orderBy(
                F.desc("pair_count"), F.asc("left"), F.asc("right")
            )
            .limit(k)
            .collect()
        )
        if not cand:
            break
        # boundary: max count any created/changed pair could reach
        boundary = cand[-1]["pair_count"] if len(cand) == k else -1
        syms: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        accepting = True
        # SELF-PAIR cap (r10): merging (l, l) over a run "l l l"
        # creates the pair (ll, l) out of the accepted pair's OWN
        # occurrences — no non-accepted old pair bounds it, so the
        # boundary argument does not cover it. A run of n contributes
        # n-1 to count(l,l) and at most (n-1)/2 created pairs, so any
        # single created pair is bounded by floor(count/2); later
        # accepts must be STRICTLY above that (a tie could win the
        # (left, right) tie-break).
        created_cap: int | None = None
        for row in cand:
            left, right, cnt = row["left"], row["right"], row["pair_count"]
            if left in syms or right in syms:
                boundary = max(boundary, cnt)
                break
            if not accepting:
                # boundary-scan only: an aliasing or self-pair-cap
                # stop ended the acceptance phase; keep walking the
                # ranked list until the first candidate overlapping
                # the accepted symbols fixes the boundary (counts are
                # descending, so any later overlap is bounded too).
                continue
            if created_cap is not None and cnt <= created_cap:
                accepting = False
                continue
            accepted.append((left, right, int(cnt)))
            syms.add(left)
            syms.add(right)
            if left == right:
                cap = int(cnt) // 2
                created_cap = cap if created_cap is None else max(created_cap, cap)
            concat = left + right
            # Later candidates naming the freshly minted symbol must
            # read as overlapping (their old counts are still valid
            # boundary material; they just can't be accepted).
            syms.add(concat)
            if concat in vocab:
                # Aliasing an existing symbol: pairs containing it
                # gain occurrences (old+created), unbounded by any
                # old count — nothing after this accept is sound.
                accepting = False
        safe = [accepted[0]] + [p for p in accepted[1:] if p[2] > boundary]
        safe = safe[: num_merges - len(merges)]
        col = F.col("repr")
        for left, right, cnt in safe:
            merges.append((len(merges) + 1, left, right, cnt))
            vocab.add(left + right)
            merged = (left + right).replace("\\", "\\\\").replace("$", "\\$")
            col = F.regexp_replace(col, _merge_pattern(left, right), merged)
        words = words.withColumn("repr", col).localCheckpoint(eager=True)
    return merges


def bpe_merge_table(
    spark: SparkSession,
    df: DataFrame,
    num_merges: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """:func:`bpe_train` as a DataFrame (rank, left, right, pair_count)."""
    merges = bpe_train(df, num_merges=num_merges, text_col=text_col)
    schema = "rank long, left string, right string, pair_count long"
    return spark.createDataFrame(
        [(int(r), l, rt, int(c)) for r, l, rt, c in merges], schema
    )
