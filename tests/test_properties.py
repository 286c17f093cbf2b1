"""Property-based tests (hypothesis): operator semantics checked
against independent references on randomized small inputs.

Settings are deliberately small (examples×rows) — each example runs
Spark jobs; the value is in the randomized shapes (dupes, ties,
empty groups, unmatched keys), not in volume.
"""

from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

BASE = datetime(2024, 1, 1)


def _events(draw, keys, max_rows):
    n = draw(st.integers(0, max_rows))
    return [
        (
            draw(st.sampled_from(keys)),
            BASE + timedelta(minutes=draw(st.integers(0, 500))),
        )
        for _ in range(n)
    ]


@st.composite
def asof_case(draw):
    keys = [1, 2, 3]
    left = _events(draw, keys, 8)
    right = [
        (k, t, float(i)) for i, (k, t) in enumerate(_events(draw, keys, 8))
    ]
    return left, right


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(asof_case())
def test_asof_join_matches_pandas_merge_asof(spark, case):
    """asof_join == pandas.merge_asof (backward, ties included) for
    every random mix of dup timestamps, unmatched keys, empty sides."""
    from dbt_core_gcloud_template_spark.operators.temporal import asof_join

    left_rows, right_rows = case
    if not left_rows:
        return
    # pandas merge_asof with duplicate right timestamps keeps the LAST
    # row per (key, ts); our operator keeps the max (ts, right_cols)
    # struct — make them agree by deduping to max val per (k, ts).
    rdf = pd.DataFrame(right_rows, columns=["k", "rts", "val"])
    if len(rdf):
        rdf = rdf.groupby(["k", "rts"], as_index=False)["val"].max()
    ldf = pd.DataFrame(left_rows, columns=["k", "ts"]).sort_values(["ts", "k"])

    left = spark.createDataFrame(ldf, "k long, ts timestamp")
    right = spark.createDataFrame(
        rdf if len(rdf) else pd.DataFrame(columns=["k", "rts", "val"]),
        "k long, rts timestamp, val double",
    )
    got = asof_join(left, right, "k", "ts", "rts", ["val"]).collect()

    if len(rdf):
        expected = pd.merge_asof(
            ldf.sort_values("ts"),
            rdf.sort_values("rts"),
            left_on="ts",
            right_on="rts",
            by="k",
            direction="backward",
            allow_exact_matches=True,
        )
        exp = {}
        for _, r in expected.iterrows():
            exp.setdefault((r["k"], r["ts"]), []).append(
                None if pd.isna(r["val"]) else r["val"]
            )
    else:
        exp = {}
        for _, r in ldf.iterrows():
            exp.setdefault((r["k"], r["ts"]), []).append(None)

    got_map = {}
    for r in got:
        got_map.setdefault((r["k"], r["ts"]), []).append(r["val"])
    assert {k: sorted(v, key=str) for k, v in got_map.items()} == {
        k: sorted(v, key=str) for k, v in exp.items()
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.tuples(
            st.integers(1, 5),          # key
            st.floats(0, 100),          # value
            st.integers(0, 3),          # day offset of updated_at
        ),
        min_size=1,
        max_size=10,
    )
)
def test_snapshot_rerun_is_idempotent(spark, rows):
    """For ANY source batch: applying the same batch twice never changes
    the snapshot (timestamp strategy), and open rows == distinct keys."""
    from dbt_core_gcloud_template_spark.operators.snapshot import snapshot_merge

    src = spark.createDataFrame(
        [(k, v, BASE + timedelta(days=d)) for k, v, d in rows],
        "id long, value double, created_at_ts timestamp",
    )
    s1 = snapshot_merge(None, src, "id", "created_at_ts")
    s2 = snapshot_merge(s1, src, "id", "created_at_ts")
    r1 = sorted(map(tuple, s1.collect()))
    r2 = sorted(map(tuple, s2.collect()))
    assert r1 == r2
    n_keys = len({k for k, _, _ in rows})
    assert s2.filter("dbt_valid_to is null").count() == n_keys


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=0,
        max_size=15,
    ).map(lambda ps: [(min(a, b), max(a, b)) for a, b in ps if a != b])
)
def test_connected_components_vs_union_find(spark, pairs):
    """connected_components == a driver-side union-find on the same
    random edge set."""
    from dbt_core_gcloud_template_spark.operators.dedup import connected_components

    if not pairs:
        return
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {
        r["node_id"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    assert got == expected


@st.composite
def docs_case(draw):
    n = draw(st.integers(1, 8))
    words = ["aa", "bb", "cc", "dd", "ee"]
    docs = []
    for i in range(n):
        k = draw(st.integers(0, 30))
        docs.append((i, " ".join(draw(st.sampled_from(words)) for _ in range(k))))
    return docs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs_case())
def test_chunking_covers_every_token_exactly(spark, case):
    """chunk_documents invariants under random doc lengths (0..30):
    every token position is covered, consecutive chunks overlap by
    chunk-stride, no chunk exceeds chunk_size, short docs chunk whole."""
    from dbt_core_gcloud_template_spark.operators.chunking import chunk_documents

    CH, STR = 8, 6
    df = spark.createDataFrame(case, "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_size=CH, stride=STR).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, text in case:
        toks = text.split()
        chunks = sorted(by_doc.get(doc_id, []), key=lambda r: r.chunk_id)
        if not toks:
            assert not chunks
            continue
        covered = set()
        for i, r in enumerate(chunks):
            assert r.chunk_id == i
            assert 1 <= r.n_chunk_tokens <= CH
            start = i * STR
            covered.update(range(start, start + r.n_chunk_tokens))
            assert r.chunk_text.split() == toks[start : start + r.n_chunk_tokens]
        assert covered == set(range(len(toks)))


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs_case(), st.integers(1, 5))
def test_packing_distributed_parity_random(spark, case, rows_per_bucket):
    """The distributed prefix-sum path (forced via a tiny
    rows_per_bucket) must assign byte-identically to the plain window
    path on random doc lengths, with and without a partition column —
    the r8 scale rework may never change packing semantics."""
    from dbt_core_gcloud_template_spark.operators.chunking import pack_sequences

    df = spark.createDataFrame(
        [(i, t, "ab"[i % 2]) for i, t in case],
        "doc_id long, text string, lang string",
    )
    for pcol in ("lang", None):
        plain = sorted(
            map(tuple, pack_sequences(
                df, "doc_id", "text", seq_len=8, partition_col=pcol
            ).collect())
        )
        dist = sorted(
            map(tuple, pack_sequences(
                df, "doc_id", "text", seq_len=8, partition_col=pcol,
                rows_per_bucket=rows_per_bucket,
            ).collect())
        )
        assert dist == plain


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs_case())
def test_packing_preserves_clipped_token_mass(spark, case):
    """pack_sequences: every doc lands in exactly one sequence, total
    packed tokens == sum of per-doc clipped lengths, and every
    sequence except possibly the last is full to overflow boundary."""
    from dbt_core_gcloud_template_spark.operators.chunking import pack_sequences

    SEQ = 16
    df = spark.createDataFrame(
        [(i, t, "x") for i, t in case], "doc_id long, text string, lang string"
    )
    out = sorted(
        pack_sequences(df, "doc_id", "text", seq_len=SEQ, partition_col="lang").collect(),
        key=lambda r: r.seq_no,
    )
    expect_tokens = sum(min(len(t.split()), SEQ) for _, t in case if t.split())
    assert sum(r.n_tokens for r in out) == expect_tokens
    assert sum(r.n_docs for r in out) == sum(1 for _, t in case if t.split())
    # seq numbering is dense from 0
    assert [r.seq_no for r in out] == list(range(len(out)))


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs_case())
def test_fused_gate_exprs_agree_with_precise_tests_random(spark, case):
    """fused unique/not_null signals match the precise groupBy tests on
    random data with duplicates and empties."""
    import pyspark.sql.functions as F

    from dbt_core_gcloud_template_spark.operators import tests as t

    df = spark.createDataFrame(
        [(i % 3 if i % 4 else None, txt) for i, txt in case], "k long, text string"
    )
    unique, not_null = t.GenericTest("unique", "k", {}), t.GenericTest("not_null", "k", {})
    fused_u, fused_n = t.scan(df, [unique, not_null])
    assert (fused_u > 0) == (unique.violations(df).count() > 0)
    assert fused_n == df.filter(F.col("k").isNull()).count()


@settings(max_examples=50, deadline=None)
@given(
    st.integers(1, 12),  # width (odd widths exercise row padding)
    st.integers(1, 10),  # height
    st.booleans(),       # top_down storage
    st.integers(0, 2**32 - 1),
)
def test_bmp_codec_roundtrip_property(w, h, top_down, seed):
    """decode(encode(px)) == px for every dims/content/row-order combo.
    Pure numpy — no Spark jobs, so examples are cheap."""
    import struct

    import numpy as np

    from dbt_core_gcloud_template_spark.operators.multimodal import (
        decode_image,
        encode_bmp,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    if not top_down:
        assert np.array_equal(decode_image(encode_bmp(px)), px)
        return
    row_size = (w * 3 + 3) & ~3
    rows = np.zeros((h, row_size), dtype=np.uint8)
    rows[:, : w * 3] = px[:, :, ::-1].reshape(h, w * 3)
    payload = (
        struct.pack("<2sIHHI", b"BM", 54 + row_size * h, 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, -h, 1, 24, 0, row_size * h, 2835, 2835, 0, 0
        )
        + rows.tobytes()
    )
    assert np.array_equal(decode_image(payload), px)


@st.composite
def passage_case(draw):
    # small vocabulary forces cross-doc passage collisions
    vocab = ["a", "b", "c"]
    docs = []
    for i in range(draw(st.integers(1, 6))):
        n = draw(st.integers(1, 12))
        docs.append((i, " ".join(draw(st.sampled_from(vocab)) for _ in range(n))))
    return docs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(passage_case())
def test_passage_dedup_matches_reference(spark, docs):
    """passage_dedup_stats == a driver-side reference implementation
    (first (doc, position) occurrence wins) on random collision-heavy
    corpora; kept+dropped always partitions the passages."""
    from dbt_core_gcloud_template_spark.operators.dedup import passage_dedup_stats

    P = 3
    seen: set[str] = set()
    expect: dict[int, list[int]] = {}
    for doc_id, text in docs:  # doc order == id order here
        toks = text.split()
        n_p, kept = 0, 0
        for i in range(0, len(toks), P):
            n_p += 1
            passage = " ".join(toks[i : i + P])
            if passage not in seen:
                seen.add(passage)
                kept += 1
        expect[doc_id] = [n_p, kept]

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: [r["n_passages"], r["n_kept"]]
        for r in passage_dedup_stats(df, "doc_id", "text", passage_tokens=P).collect()
    }
    assert got == expect
    for r in passage_dedup_stats(df, "doc_id", "text", passage_tokens=P).collect():
        assert r["n_kept"] + r["n_dropped"] == r["n_passages"]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(docs_case(), st.integers(2, 5))
def test_lsh_incremental_equals_full_minus_old_old(spark, case, mod):
    """Spec identity on random corpora: incremental candidate pairs for
    a batch/index split are EXACTLY the full LSH pair set minus the
    pairs lying entirely in the index — nothing new is invented,
    nothing batch-touching is lost, and pair_type tags match the
    split."""
    from dbt_core_gcloud_template_spark.operators import dedup as dd

    df = spark.createDataFrame(case, "doc_id long, text string")
    bands = [[0, 1], [2, 3]]
    sigs = dd.minhash_signatures(df, "doc_id", "text", k_shingle=2, n_hashes=4)
    new_ids = {i for i, _ in case if i % mod == 0}
    full = {
        (r["a_id"], r["b_id"])
        for r in dd.lsh_candidate_pairs(sigs, "doc_id", bands).collect()
    }
    expect = {
        (a, b): "new_new" if (a in new_ids and b in new_ids) else "new_old"
        for a, b in full
        if a in new_ids or b in new_ids
    }
    got = {
        (r["a_id"], r["b_id"]): r["pair_type"]
        for r in dd.lsh_incremental_pairs(
            sigs.filter(F.col("doc_id").isin(list(new_ids)) if new_ids else F.lit(False)),
            sigs.filter(~F.col("doc_id").isin(list(new_ids)) if new_ids else F.lit(True)),
            "doc_id",
            bands,
        ).collect()
    }
    assert got == expect


@st.composite
def spans_corpus(draw):
    """1-6 docs over a 4-token alphabet, lengths 0-10: small enough
    that repeated 3-grams (within AND across docs) are common."""
    n_docs = draw(st.integers(1, 6))
    return [
        (
            did,
            " ".join(
                draw(
                    st.lists(
                        st.sampled_from(["a", "b", "c", "d"]),
                        min_size=0,
                        max_size=10,
                    )
                )
            ),
        )
        for did in range(n_docs)
    ]


def _ref_spans(docs, k, min_count, keep_first=False, max_occurrences=None):
    """Pure-Python ExactSubstr reference: count k-gram windows, keep
    positions of repeated ones, merge overlapping/adjacent windows.
    keep_first=True splits positions into two classes — the
    min-(doc,pos) occurrence of each window is PROTECTED, later copies
    are duplicated — and islands merge within each class, returning
    (doc, start, end, tokens, protected) tuples.  max_occurrences
    mirrors the operator's skew fence: windows above the cap grant NO
    protected copy."""
    from collections import Counter

    wins = []
    for did, text in docs:
        toks = text.split()
        for i in range(len(toks) - k + 1):
            wins.append((did, i, tuple(toks[i : i + k])))
    cnt = Counter(g for _, _, g in wins)
    firsts = {}
    for did, i, g in sorted(wins):
        firsts.setdefault(g, (did, i))
    per_class = {}
    for did, i, g in wins:
        if cnt[g] >= min_count:
            prot = (
                keep_first
                and firsts[g] == (did, i)
                and (max_occurrences is None or cnt[g] <= max_occurrences)
            )
            per_class.setdefault((did, prot), []).append(i)
    out = set()
    for (did, prot), ps in per_class.items():
        ps.sort()
        s, e = ps[0], ps[0] + k
        spans = []
        for p in ps[1:]:
            if p >= e:
                spans.append((s, e))
                s, e = p, p + k
            else:
                e = p + k
        spans.append((s, e))
        for s_, e_ in spans:
            out.add(
                (did, s_, e_, e_ - s_, prot) if keep_first
                else (did, s_, e_, e_ - s_)
            )
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(spans_corpus())
def test_duplicated_spans_matches_reference(spark, corpus):
    """duplicated_spans == the brute-force reference on every random
    corpus (within-doc repeats, cross-doc repeats, empty docs,
    shorter-than-k docs)."""
    from dbt_core_gcloud_template_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans(docs, "doc_id", "text", k=3, min_count=2).collect()
    }
    assert got == _ref_spans(corpus, k=3, min_count=2)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(spans_corpus())
def test_duplicated_spans_keep_first_matches_reference(spark, corpus):
    """keep_first spans == reference: min-(doc,pos) occurrences become
    protected spans, later copies duplicated, islands merged per
    class."""
    from dbt_core_gcloud_template_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (
            r["doc_id"],
            r["span_start"],
            r["span_end"],
            r["span_tokens"],
            r["protected"],
        )
        for r in duplicated_spans(
            docs, "doc_id", "text", k=3, min_count=2, keep_first=True
        ).collect()
    }
    assert got == _ref_spans(corpus, k=3, min_count=2, keep_first=True)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(spans_corpus())
def test_duplicated_spans_max_occurrences_matches_reference(spark, corpus):
    """The skew fence == reference at a LOW cap on random corpora: the
    4-token alphabet makes windows routinely exceed 3 occurrences, so
    both capped and uncapped protection classes are exercised."""
    from dbt_core_gcloud_template_spark.operators.dedup import duplicated_spans

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        (
            r["doc_id"],
            r["span_start"],
            r["span_end"],
            r["span_tokens"],
            r["protected"],
        )
        for r in duplicated_spans(
            docs, "doc_id", "text", k=3, min_count=2, keep_first=True,
            max_occurrences=3,
        ).collect()
    }
    assert got == _ref_spans(
        corpus, k=3, min_count=2, keep_first=True, max_occurrences=3
    )


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(spans_corpus())
def test_duplicated_spans_incremental_matches_full_run(spark, corpus):
    """Detect-all incremental spans (batch vs stored window-hash index)
    == the full-corpus run restricted to batch docs, on every random
    corpus: a batch window is duplicated iff its corpus-wide count
    reaches min_count, however the occurrences split across batch and
    history."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans,
        duplicated_spans_incremental,
        window_hash_index,
    )

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    is_new = F.col("doc_id") % 2 == 0
    index = window_hash_index(docs.filter(~is_new), "text", k=3)
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in duplicated_spans_incremental(
            docs.filter(is_new), index, "doc_id", "text", k=3, min_count=2
        ).collect()
    }
    want = {
        t
        for t in _ref_spans(corpus, k=3, min_count=2)
        if t[0] % 2 == 0
    }
    assert got == want


def test_duplicated_spans_incremental_keep_first_temporal(spark):
    """Incremental keep_first uses TEMPORAL-first semantics: a window
    already in the index protects nothing in the batch (its kept copy
    shipped at ingest), a window new to the corpus protects its
    batch-first occurrence — even when the batch doc's id sorts before
    history's."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        duplicated_spans_incremental,
        window_hash_index,
    )

    hist = spark.createDataFrame(
        [(100, "old boiler text here plus filler")],
        "doc_id long, text string",
    )
    # doc 0 < 100, but 'old boiler text here' was ingested first: no
    # protection.  'fresh new span body' repeats only within the batch:
    # doc 0's copy is protected.
    batch = spark.createDataFrame(
        [
            (0, "old boiler text here fresh new span body"),
            (2, "fresh new span body trailing tokens x y"),
        ],
        "doc_id long, text string",
    )
    index = window_hash_index(hist, "text", k=4)
    rows = {
        (r["doc_id"], r["span_start"], r["protected"])
        for r in duplicated_spans_incremental(
            batch, index, "doc_id", "text", k=4, min_count=2, keep_first=True
        ).collect()
    }
    assert rows == {
        (0, 0, False),   # in-index window: duplicated, unprotected
        (0, 4, True),    # new-to-corpus window, batch-first: protected
        (2, 0, False),   # second batch copy: duplicated
    }


def _ref_passage_incremental(corpus, k, batch_pred, max_occurrences=None):
    """Brute-force temporal-first incremental passage dedup: a batch
    passage is kept iff it is absent from history AND is the batch-first
    (min (doc, idx)) occurrence (AND total occurrences <= cap if set)."""
    def passages(text):
        tok = text.split()
        return [
            " ".join(tok[i : i + k]) for i in range(0, len(tok), k)
        ] if tok else []

    hist = {}
    for did, text in corpus:
        if not batch_pred(did):
            for p in passages(text):
                hist[p] = hist.get(p, 0) + 1
    batch = [
        (did, i, p)
        for did, text in corpus
        if batch_pred(did)
        for i, p in enumerate(passages(text))
    ]
    bcnt = {}
    first = {}
    for did, i, p in batch:
        bcnt[p] = bcnt.get(p, 0) + 1
        if p not in first or (did, i) < first[p]:
            first[p] = (did, i)
    out = {}
    for did, i, p in batch:
        keep = p not in hist and first[p] == (did, i)
        if max_occurrences is not None:
            keep = keep and bcnt[p] + hist.get(p, 0) <= max_occurrences
        n_p, n_k = out.get(did, (0, 0))
        out[did] = (n_p + 1, n_k + (1 if keep else 0))
    return {
        (did, n_p, n_k, n_p - n_k, round((n_p - n_k) / n_p, 6))
        for did, (n_p, n_k) in out.items()
    }


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(spans_corpus())
def test_passage_dedup_incremental_matches_reference(spark, corpus):
    """Incremental passage dedup (batch vs stored passage-hash index)
    == the brute-force temporal-first reference on random small-alphabet
    corpora, with and without the total-occurrence cap."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        passage_dedup_incremental,
        passage_hash_index,
    )

    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    is_new = F.col("doc_id") % 2 == 0
    index = passage_hash_index(docs.filter(~is_new), "text", passage_tokens=2)
    for cap in (None, 2):
        got = {
            (
                r["doc_id"],
                r["n_passages"],
                r["n_kept"],
                r["n_dropped"],
                r["drop_frac"],
            )
            for r in passage_dedup_incremental(
                docs.filter(is_new), index, "doc_id", "text",
                passage_tokens=2, max_occurrences=cap,
            ).collect()
        }
        assert got == _ref_passage_incremental(
            corpus, 2, lambda d: d % 2 == 0, max_occurrences=cap
        )


@st.composite
def bloom_batch(draw):
    """Random (batch, history) with NULLs, shared texts, and dupes."""
    vocab = [None, "", "a", "b", "ab", "ba", "abc"]
    batch = [
        (i, draw(st.sampled_from(vocab)))
        for i in range(draw(st.integers(0, 12)))
    ]
    hist = [
        (100 + i, draw(st.sampled_from(vocab[1:])))
        for i in range(draw(st.integers(0, 5)))
    ]
    n_bits = draw(st.sampled_from([64, 128, 1024]))
    k = draw(st.integers(1, 6))
    return batch, hist, n_bits, k


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(bloom_batch())
def test_bloom_incremental_dedup_equals_plain_property(spark, case):
    """Under ANY (n_bits, k) — tiny bitmaps with guaranteed false
    positives included — and NULL/empty/duplicated texts, the bloom
    tier is bit-identical to the plain anti-join: bloom-negative
    content is definitely new, false positives are settled by the
    exact join, and NULL digests route through the anti-join branch."""
    from dbt_core_gcloud_template_spark.operators.dedup import (
        exact_dedup_incremental,
        exact_dedup_incremental_bloom,
    )

    batch_rows, hist_rows, n_bits, k = case
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    index = spark.createDataFrame(
        hist_rows or [(0, "seed-only")], "doc_id long, text string"
    ).selectExpr("md5(text) AS text_hash")
    if not hist_rows:
        index = index.filter("1 = 0")  # empty index, typed schema
    key = lambda r: (r["text_hash"], r["canonical_id"], r["n_copies"])  # noqa: E731
    plain = {
        key(r)
        for r in exact_dedup_incremental(
            batch, index, "text", "doc_id"
        ).collect()
    }
    bloom = {
        key(r)
        for r in exact_dedup_incremental_bloom(
            batch, index, "text", "doc_id", n_bits=n_bits, k=k
        ).collect()
    }
    assert bloom == plain


@st.composite
def semdedup_corpus(draw):
    """Random small embedding sets with deliberate pile-ups: vectors
    drawn from a handful of directions (scaled copies are exact
    cosine-duplicates) so clusters of very different sizes form."""
    dirs = [
        [1.0, 0.0, 0.0],
        [0.0, 1.0, 0.0],
        [0.0, 0.0, 1.0],
        [1.0, 1.0, 0.0],
    ]
    n = draw(st.integers(4, 24))
    rows = []
    for i in range(n):
        d = dirs[draw(st.integers(0, len(dirs) - 1))]
        scale = 1.0 + draw(st.integers(0, 3))
        rows.append((i, [x * scale for x in d]))
    cap = draw(st.integers(1, 8))
    return rows, cap


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(semdedup_corpus())
def test_semdedup_fence_invariants_random(spark, case):
    """Fence invariants on random pile-up corpora, both modes:
    (1) conservative keep — the output id set always equals the input
    id set; (2) drop mode — members of under-cap clusters keep exactly
    the unfenced verdicts (pairing is cluster-scoped, so healthy
    clusters can't be affected), members of over-cap clusters are all
    kept self-canonical; (3) split mode — every duplicate verdict is
    sound (cluster-scoped by construction) and never exceeds the
    unfenced run's duplicate set."""
    from dbt_core_gcloud_template_spark.operators.similarity import semdedup

    rows, cap = case
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(n_lists=2, threshold=0.99)
    base = {
        r["vec_id"]: r
        for r in semdedup(emb, "vec_id", "embedding", **kw).collect()
    }
    sizes: dict[int, int] = {}
    for r in base.values():
        sizes[r["list_id"]] = sizes.get(r["list_id"], 0) + 1
    dropped = {
        r["vec_id"]: r
        for r in semdedup(
            emb, "vec_id", "embedding", max_cluster_size=cap, **kw
        ).collect()
    }
    split = {
        r["vec_id"]: r
        for r in semdedup(
            emb, "vec_id", "embedding", max_cluster_size=cap,
            on_oversize="split", dim=3, **kw
        ).collect()
    }
    assert set(dropped) == set(base) == set(split)  # (1)
    for vid, r in dropped.items():
        if sizes[r["list_id"]] > cap:
            assert not r["is_duplicate"] and r["canonical_id"] == vid
        else:  # (2): healthy clusters bit-match the unfenced run
            b = base[vid]
            assert (r["is_duplicate"], r["canonical_id"]) == (
                b["is_duplicate"], b["canonical_id"]
            )
    for vid, r in split.items():  # (3)
        if sizes[r["list_id"]] <= cap:
            b = base[vid]
            assert (r["is_duplicate"], r["canonical_id"]) == (
                b["is_duplicate"], b["canonical_id"]
            )
        elif r["is_duplicate"]:
            # sound: the unfenced run also saw this vector as a dup
            assert base[vid]["is_duplicate"]
            assert r["canonical_id"] >= base[vid]["canonical_id"]


@st.composite
def emb_case(draw):
    dim = draw(st.integers(1, 4))
    n = draw(st.integers(0, 20))
    comp = st.floats(-2, 2, allow_nan=False, allow_infinity=False)
    rows = []
    for i in range(n):
        if rows and draw(st.booleans()):
            # planted exact duplicate vector (id differs): near-dup
            # mass concentrates clusters and exercises argmin ties
            rows.append((i, list(draw(st.sampled_from(rows))[1])))
        else:
            rows.append((i, [draw(comp) for _ in range(dim)]))
    return rows, dim


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(emb_case(), st.integers(1, 4))
def test_kmeans_replayable_bit_stable_under_layout(spark, case, k):
    """The SQL-replayable trainer's whole determinism claim rests on
    order-independence: the md5 seed is content-addressed and the
    update step sums integer-micro DECIMALs, so reversing the input
    rows AND re-splitting partitions must reproduce the codebook
    BIT-FOR-BIT (not approximately) — on random shapes including
    planted duplicate vectors (argmin ties) and empty corpora."""
    from dbt_core_gcloud_template_spark.operators.similarity import (
        kmeans_fit_replayable,
    )

    rows, dim = case
    schema = "vec_id long, embedding array<double>"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(7)
    cb_a = sorted(
        (r.c_id, tuple(r.vector))
        for r in kmeans_fit_replayable(
            a, "vec_id", "embedding", k=k, n_iter=2
        ).collect()
    )
    cb_b = sorted(
        (r.c_id, tuple(r.vector))
        for r in kmeans_fit_replayable(
            b, "vec_id", "embedding", k=k, n_iter=2
        ).collect()
    )
    assert cb_a == cb_b
    assert len(cb_a) <= k
    # the trainer sees only rows cosine geometry is defined for
    # (_valid_vectors drops NULL/empty/all-zero vectors — hypothesis
    # found a corpus of ONLY zero-norm vectors, where an empty
    # codebook is the documented, correct outcome)
    n_valid = sum(
        1
        for _i, v in rows
        if v is not None and len(v) > 0 and sum(x * x for x in v) > 0
    )
    assert (len(cb_a) > 0) == (n_valid > 0)


# ---------------------------------------------------------------------------
# dataset-drift PSI (operators/drift.py): mathematical invariants that
# must hold for ANY pair of snapshots — each per-bucket term
# (p−q)·ln(p/q) has sign(p−q) == sign(ln(p/q)), so PSI >= 0 with
# equality iff the (clamped) bucket shares coincide; the formula is
# symmetric under swapping the snapshots; and the result is a pure
# function of the multiset of values (row order / partitioning free).
# ---------------------------------------------------------------------------
def _drift_snapshot():
    return st.lists(
        st.one_of(
            st.none(),
            st.floats(
                min_value=-50.0, max_value=150.0,
                allow_nan=False, allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=40,
    )


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(_drift_snapshot(), _drift_snapshot(), st.integers(0, 3))
def test_psi_nonnegative_and_symmetric(spark, ref_vals, cur_vals, shift):
    from dbt_core_gcloud_template_spark.operators.drift import psi_drift

    edges = (0.0, 25.0, 50.0, 75.0, 100.0)[shift:]
    feats = [("x", F.col("x"), edges)]
    ref = spark.createDataFrame([(v,) for v in ref_vals], "x double")
    cur = spark.createDataFrame([(v,) for v in cur_vals], "x double")
    fwd = psi_drift(ref, cur, feats).collect()[0]["psi"]
    rev = psi_drift(cur, ref, feats).collect()[0]["psi"]
    assert fwd is not None and fwd >= 0.0
    # (p−q)·ln(p/q) is swap-symmetric, but ln(p/q) is not bitwise
    # −ln(q/p) and addition order varies — allow one 6dp rounding
    # grain, the same tolerance the oracle comparison effectively has
    assert abs(rev - fwd) <= 1e-6
    # identical snapshots: exactly zero, never an epsilon residue
    # (p−q is exactly 0.0 per bucket, not merely tiny)
    assert psi_drift(ref, ref, feats).collect()[0]["psi"] == 0.0
    # layout independence: a re-partitioned snapshot scores the same
    # up to the rounding grain of the per-feature sum's fold order
    fwd7 = psi_drift(
        ref.repartition(7), cur.repartition(3), feats
    ).collect()[0]["psi"]
    assert abs(fwd7 - fwd) <= 1e-6


@st.composite
def drift_log_case(draw):
    """A random count-delta log (the incremental_drift_model stored
    schema): a handful of (feature, bucket, n, day-tag, spec) rows with
    deliberate tag collisions, multi-spec generations, and single-row
    days — plus a compaction horizon and a restatable day to exercise."""
    days = sorted(
        draw(
            st.sets(st.integers(0, 5), min_size=1, max_size=4).map(list)
        )
    )
    rows = []
    for day in days:
        for _ in range(draw(st.integers(1, 3))):
            rows.append(
                (
                    draw(st.sampled_from(["chars", "lang"])),
                    draw(st.sampled_from(["0", "1", "<null>"])),
                    draw(st.integers(1, 9)),
                    day * 100,
                    draw(st.sampled_from(["h1", "h2"])),
                )
            )
    horizon = draw(st.sampled_from(days + [days[-1] + 1])) * 100
    restate_day = draw(st.sampled_from(days)) * 100
    return rows, horizon, restate_day


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(drift_log_case())
def test_drift_log_maintenance_algebra(spark, case):
    """The drift-log maintenance invariants hold on ARBITRARY logs, not
    just the handwritten fixtures:
    1. compact_count_deltas preserves every future fold (the per-spec
       bucket SUM above any probe horizon) and every day tag (genuine
       rows or tombstones), and stamps the in-band horizon marker;
    2. compaction is idempotent at the same horizon (fold+tags+marker
       stable);
    3. restatement round-trip: evicting a day's rows and re-appending
       exactly the same delta reproduces the original fold (what
       Engine.restate_drift_day + a re-run does for an unchanged
       delivery).
    """
    from dbt_core_gcloud_template_spark.operators.drift import (
        HORIZON_SPEC,
        compact_count_deltas,
        stored_compact_horizon,
    )

    rows, horizon, restate_day = case
    schema = (
        "feature string, bucket string, n bigint, ingest_lo bigint, "
        "spec_hash string"
    )
    log = spark.createDataFrame(rows, schema)

    def fold(df, probe_lo):
        return sorted(
            map(
                tuple,
                df.filter(
                    (F.col("ingest_lo") < probe_lo)
                    & F.col("bucket").isNotNull()
                )
                .groupBy("spec_hash", "feature", "bucket")
                .agg(F.sum("n").cast("bigint").alias("n"))
                .collect(),
            )
        )

    def tags(df):
        return {
            (r["ingest_lo"], r["spec_hash"])
            for r in df.filter(F.col("spec_hash") != HORIZON_SPEC)
            .select("ingest_lo", "spec_hash")
            .distinct()
            .collect()
        }

    compacted = compact_count_deltas(log, through_lo=horizon).localCheckpoint(
        eager=True
    )
    # folds at the horizon AND far beyond it are unchanged (probes at
    # a compacted boundary and at infinity)
    for probe in (horizon, 10**9):
        assert fold(compacted, probe) == fold(log, probe)
    assert tags(compacted) == tags(log)
    assert stored_compact_horizon(compacted) == horizon
    # idempotent re-compaction; the single marker never regresses
    again = compact_count_deltas(compacted, through_lo=horizon).localCheckpoint(
        eager=True
    )
    assert fold(again, 10**9) == fold(log, 10**9)
    assert tags(again) == tags(log)
    assert stored_compact_horizon(again) == horizon
    assert (
        again.filter(F.col("spec_hash") == HORIZON_SPEC).count() == 1
    )

    # restatement round-trip on the UNCOMPACTED log (Engine.restate
    # refuses below-horizon days; above it this is exactly the verb)
    day_rows = log.filter(F.col("ingest_lo") == restate_day)
    evicted = log.filter(F.col("ingest_lo") != restate_day)
    restored = evicted.unionByName(day_rows)
    assert fold(restored, 10**9) == fold(log, 10**9)
    assert tags(restored) == tags(log)
