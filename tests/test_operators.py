"""Operator-level tests: dedup recall, similarity ranking, multimodal
plumbing — properties the oracle diff can't express."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ballcone_spark.operators.multimodal import (
    decode_image_features,
    make_fake_media,
    sample_frames,
)
from ballcone_spark.operators.similarity import ann_lsh, knn_bruteforce

SF = "/root/testdata/sf0.001"


def test_minhash_lsh_recall(spark):
    """LSH candidates must recover nearly all true near-dup pairs."""
    import __spark_entry__ as m

    qs = m.queries()
    truth = {
        (r["a_id"], r["b_id"]) for r in qs["dedup_ngram_jaccard"](spark, SF).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in qs["dedup_minhash_lsh_vectorized"](spark, SF).collect()
    }
    assert lsh <= truth  # exact-verified: no false positives
    assert len(truth) > 0
    assert len(lsh) / len(truth) >= 0.9  # 4x4 banding recall at jac>=0.8


def test_chunk_documents_fuzz_vs_python(spark):
    """Property fuzz: the chunker must equal a direct Python slicing
    reference on random doc lengths straddling the window/stride
    boundaries (including the 1-token and exactly-window cases)."""
    import hashlib
    import random

    from ballcone_spark.operators.packing import chunk_documents

    rng = random.Random(7)
    lens = [1, 2, 63, 64, 65, 127, 128, 129, 200, rng.randint(1, 300)]
    docs_tok = {i: [f"x{i}_{j}" for j in range(n)] for i, n in enumerate(lens)}
    docs = spark.createDataFrame(
        [(d, " ".join(t)) for d, t in docs_tok.items()],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["tok_start"],
            r["n_tokens"],
            r["chunk_fp"],
        )
        for r in chunk_documents(docs, window=128, stride=64).collect()
    }
    want = {}
    for d, t in docs_tok.items():
        for cid, start in enumerate(range(0, len(t), 64)):
            piece = t[start : start + 128]
            want[(d, cid)] = (
                start,
                len(piece),
                hashlib.md5(" ".join(piece).encode()).hexdigest(),
            )
    assert got == want


def test_quality_percentile_filter_keep_rule(spark):
    """The percentile filter must keep exactly the docs whose
    percent_rank over ppl within their source is ≤ 0.6 — for 10
    distinct-ppl docs that is rank ≤ 6 (pr = (rank−1)/9 ≤ 0.6), and
    the reported cutoff must equal the 6th-lowest ppl."""
    import itertools

    from ballcone_spark.operators.lm_quality import (
        bigram_lm_scores_np,
        quality_percentile_filter,
    )

    # 10 docs of one source with graded repetition → distinct ppls
    rows = []
    for i in range(10):
        body = " ".join(
            itertools.islice(itertools.cycle([f"w{j}" for j in range(i + 2)]), 30)
        )
        rows.append((i, "srcA", body))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

    ppls = sorted(
        r["ppl"] for r in bigram_lm_scores_np(docs).collect()
    )
    assert len(set(ppls)) == 10  # the grading produced distinct ppls

    out = {r["source"]: r for r in quality_percentile_filter(docs).collect()}
    assert out["srcA"]["n_docs"] == 10
    assert out["srcA"]["n_kept"] == 6
    assert abs(out["srcA"]["ppl_cutoff"] - ppls[5]) < 1e-9


def test_chunk_documents_windows_and_fingerprints(spark):
    """The sliding-window chunker must emit exactly the windows its
    contract promises: starts at every stride step below doc length,
    window-capped token counts, 50% overlap between neighbors, and an
    md5 fingerprint equal to the hash of the exact token slice."""
    import hashlib

    from ballcone_spark.operators.packing import chunk_documents

    toks = [f"t{i}" for i in range(150)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "short doc only")],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_id"], r["chunk_id"]): r
        for r in chunk_documents(docs, window=128, stride=64).collect()
    }
    # doc 1 (150 tokens): starts 0, 64, 128
    assert {c for d, c in rows if d == 1} == {0, 1, 2}
    assert rows[(1, 0)]["n_tokens"] == 128
    assert rows[(1, 1)]["n_tokens"] == 86  # 150 - 64
    assert rows[(1, 2)]["n_tokens"] == 22  # 150 - 128 (tail)
    for cid, start, width in [(0, 0, 128), (1, 64, 86), (2, 128, 22)]:
        want = hashlib.md5(
            " ".join(toks[start : start + width]).encode()
        ).hexdigest()
        assert rows[(1, cid)]["chunk_fp"] == want
    # doc 2 (3 tokens): one short chunk
    assert {c for d, c in rows if d == 2} == {0}
    assert rows[(2, 0)]["n_tokens"] == 3


def test_fuzzy_decontamination_catches_edited_leaks(spark):
    """A benchmark item lightly edited every 8th token has NO verbatim
    8-gram left (the exact pass is blind to it) but keeps ~half its
    trigram set — the fuzzy screen must flag it, with the exact pass's
    miss asserted alongside so the operators' complementarity is
    pinned, not assumed. An unrelated doc must stay unflagged."""
    from ballcone_spark.operators.dedup import (
        decontamination_flags,
        fuzzy_decontamination,
    )

    base = [f"w{i}" for i in range(40)]
    edited = [f"E{i}" if i % 8 == 7 else t for i, t in enumerate(base)]
    bench = spark.createDataFrame(
        [(1, " ".join(base))], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (10, " ".join(edited)),  # runs of 7 — no 8-gram survives
            (11, "totally unrelated text about something else entirely x y z"),
        ],
        "doc_id long, text string",
    )
    exact = {r["doc_id"] for r in decontamination_flags(corpus, bench, n=8).collect()}
    assert exact == set()  # the verbatim pass is blind to the edit

    fuzzy = {
        r["doc_id"]: (r["bench_id"], r["jaccard"])
        for r in fuzzy_decontamination(corpus, bench).collect()
    }
    assert set(fuzzy) == {10} and fuzzy[10][0] == 1
    assert fuzzy[10][1] >= 0.4  # the planted trigram overlap


def test_exact_span_pairs_planted(spark):
    """Span-level dedup (Lee et al. ExactSubstr signal) on planted
    text: a 25-token verbatim span shared by two docs is reported with
    its exact length; a 12-token span is under MIN_SPAN; a span
    repeated in > SPAN_MAX_DF docs is boilerplate-cut; two disjoint
    qualifying spans between one pair both count."""
    from ballcone_spark.operators.span_dedup import (
        MIN_SPAN,
        SPAN_MAX_DF,
        exact_span_pairs,
    )

    span25 = " ".join(f"s{i}" for i in range(25))
    span12 = " ".join(f"t{i}" for i in range(12))
    span30 = " ".join(f"u{i}" for i in range(30))
    boiler = " ".join(f"b{i}" for i in range(22))
    rows = [
        (1, f"alpha beta {span25} gamma delta"),
        (2, f"zeta {span25} eta theta iota"),
        (3, f"one two {span12} three"),
        (4, f"four {span12} five six"),
        (5, f"{span30} filler5 {span25} tail5"),
        # doc 5 vs 1/2: span25 again; doc 5 vs 6: span30 AND span25
        (6, f"{span30} other6 mid {span25} end6"),
    ]
    # boilerplate: the same 22-token span in SPAN_MAX_DF + 6 docs →
    # every gram of it is hot → cut → no pair reported among them
    rows += [
        (100 + i, f"pre{i} {boiler} post{i}")
        for i in range(SPAN_MAX_DF + 6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["a_id"], r["b_id"]): (r["n_spans"], r["max_span"], r["dup_tokens"])
        for r in exact_span_pairs(docs).collect()
    }
    assert got[(1, 2)] == (1, 25, 25)
    assert got[(1, 5)] == (1, 25, 25) and got[(2, 5)] == (1, 25, 25)
    assert got[(5, 6)] == (2, 30, 55)  # both disjoint spans, summed
    assert (3, 4) not in got  # 12 < MIN_SPAN
    assert MIN_SPAN == 20
    assert not any(a >= 100 and b >= 100 for a, b in got)  # boiler cut


def test_exact_span_pairs_fuzz_vs_bruteforce(spark):
    """Property fuzz: on random small-vocab corpora (where long shared
    spans arise naturally), exact_span_pairs with the cut and budget
    disabled must equal an independent brute-force reference — per doc
    pair and diagonal, token-equality runs of length ≥ min_span are
    exactly the reported spans (run R tokens ⇔ R−k+1 consecutive
    k-gram matches). Seeded corpora, several shapes."""
    import random

    from ballcone_spark.operators.span_dedup import exact_span_pairs

    k, min_span = 3, 6

    def brute(docs_tok):
        out = {}
        ids = sorted(docs_tok)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                ta, tb = docs_tok[a], docs_tok[b]
                spans = []
                # diagonals d = i - j over token positions
                for d in range(-(len(tb) - 1), len(ta)):
                    run = 0
                    for j in range(len(tb)):
                        i = j + d
                        if 0 <= i < len(ta) and ta[i] == tb[j]:
                            run += 1
                        else:
                            if run >= min_span:
                                spans.append(run)
                            run = 0
                    if run >= min_span:
                        spans.append(run)
                if spans:
                    out[(a, b)] = (
                        len(spans),
                        max(spans),
                        sum(spans),
                    )
        return out

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(rng.choice([2, 3, 4]))]
        docs_tok = {
            did: [rng.choice(vocab) for _ in range(rng.randint(10, 50))]
            for did in range(rng.randint(4, 7))
        }
        docs = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs_tok.items()],
            "doc_id long, text string",
        )
        got = {
            (r["a_id"], r["b_id"]): (
                r["n_spans"],
                r["max_span"],
                r["dup_tokens"],
            )
            for r in exact_span_pairs(
                docs,
                k=k,
                min_span=min_span,
                max_df=10**9,
                pair_budget=10**12,
            ).collect()
        }
        assert got == brute(docs_tok), f"seed={seed}"


def test_dup_span_coverage_fuzz_vs_bruteforce(spark):
    """Property fuzz for the coverage side: per doc, the union of
    tokens covered by ≥ 1 qualifying span must equal a brute-force
    position-marking scan (mark both sides of every ≥ min_span
    diagonal run directly — no intervals, no windows), on the same
    seeded corpora as the pairs fuzz."""
    import random

    from ballcone_spark.operators.span_dedup import dup_span_coverage

    k, min_span = 3, 6

    def brute_cover(docs_tok):
        covered = {d: set() for d in docs_tok}
        ids = sorted(docs_tok)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                ta, tb = docs_tok[a], docs_tok[b]
                for d in range(-(len(tb) - 1), len(ta)):
                    run = 0
                    for j in range(len(tb) + 1):
                        i = j + d
                        if (
                            j < len(tb)
                            and 0 <= i < len(ta)
                            and ta[i] == tb[j]
                        ):
                            run += 1
                        else:
                            if run >= min_span:
                                for jj in range(j - run, j):
                                    covered[b].add(jj)
                                    covered[a].add(jj + d)
                            run = 0
        return {d: len(s) for d, s in covered.items()}

    for seed in (11, 12, 13):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(rng.choice([2, 3, 4]))]
        docs_tok = {
            did: [rng.choice(vocab) for _ in range(rng.randint(10, 50))]
            for did in range(rng.randint(4, 7))
        }
        docs = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in docs_tok.items()],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["n_tokens"], r["covered_tokens"])
            for r in dup_span_coverage(
                docs,
                k=k,
                min_span=min_span,
                max_df=10**9,
                pair_budget=10**12,
            ).collect()
        }
        want = brute_cover(docs_tok)
        assert {d: c for d, (_, c) in got.items()} == want, f"seed={seed}"
        assert all(
            got[d][0] == len(docs_tok[d]) for d in docs_tok
        ), f"seed={seed}"


def test_fuzzy_decontamination_fuzz_vs_bruteforce(spark):
    """Property fuzz for fuzzy decon with the cut disabled: flags and
    best-match Jaccard must equal a direct per-pair distinct-trigram
    set computation (independent of the inverted-index construction)."""
    import random

    from ballcone_spark.operators.dedup import fuzzy_decontamination

    def sh(t, n=3):
        return {
            " ".join(t[i : i + n]) for i in range(len(t) - n + 1)
        }

    for seed in (21, 22, 23):
        rng = random.Random(seed)
        vocab = [f"v{i}" for i in range(rng.choice([3, 4]))]
        corpus_tok = {
            did: [rng.choice(vocab) for _ in range(rng.randint(8, 30))]
            for did in range(5)
        }
        bench_tok = {
            did: [rng.choice(vocab) for _ in range(rng.randint(8, 30))]
            for did in range(100, 103)
        }
        corpus = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in corpus_tok.items()],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(d, " ".join(t)) for d, t in bench_tok.items()],
            "doc_id long, text string",
        )
        tau = 0.4
        want = {}
        for d, t in corpus_tok.items():
            best = None
            for bd, bt in bench_tok.items():
                inter = len(sh(t) & sh(bt))
                union = len(sh(t) | sh(bt))
                if union == 0:
                    continue
                j = inter / union
                if j >= tau and (best is None or j > best[1] or
                                 (j == best[1] and bd < best[0])):
                    best = (bd, j)
            if best:
                want[d] = (best[0], round(best[1], 4))
        got = {
            r["doc_id"]: (r["bench_id"], r["jaccard"])
            for r in fuzzy_decontamination(
                corpus, bench, tau=tau, max_df=10**9, pair_budget=10**12
            ).collect()
        }
        assert got == want, f"seed={seed}"


def test_exact_span_budget_binding_matches_sql_replay(spark):
    """When the candidate budget BINDS, the adaptive cut drops dense
    gram families and keeps rare ones — and the oracle's SQL replay of
    the cut (histogram → running pair sum → first overflowing df) must
    produce EXACTLY the Spark result, because the cut formula is
    data-derived in both engines. 30 docs share one 24-token span
    (df = 30 grams → 435 pairs each, blowing a 50-pair budget); two
    docs share another (df = 2 → within budget)."""
    import duckdb

    from ballcone_spark.operators.span_dedup import (
        _span_cte,
        exact_span_pairs,
    )

    s_dense = " ".join(f"p{i}" for i in range(24))
    s_rare = " ".join(f"q{i}" for i in range(24))
    rows = [(i, f"f{i}a f{i}b {s_dense} f{i}c") for i in range(30)]
    rows += [(100, f"g1 {s_rare} g2"), (101, f"g3 g4 {s_rare}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = [
        tuple(r) for r in exact_span_pairs(docs, pair_budget=50).collect()
    ]
    assert got == [(100, 101, 1, 24, 24)]  # rare kept, dense family cut

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracle = f"""
    WITH {_span_cte("50")}
    SELECT a_id, b_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(max(span) AS BIGINT) AS max_span,
           CAST(sum(span) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY a_id, b_id ORDER BY a_id, b_id
    """
    assert [tuple(r) for r in con.execute(oracle).fetchall()] == got


def test_dup_span_coverage_interval_union(spark):
    """Per-doc coverage must UNION overlapping spans (not sum them),
    cover both sides of each pair, and report zero for untouched docs.
    Doc 1 shares two OVERLAPPING qualifying spans with docs 2 and 3
    (tokens 2..26 and 12..36 of doc 1 → union 2..36 = 35 tokens, vs 50
    if double-counted)."""
    from ballcone_spark.operators.span_dedup import dup_span_coverage

    v = [f"v{i}" for i in range(40)]  # distinctive vocabulary
    rows = [
        (1, " ".join(["x1", "x2"] + v + ["y1", "y2"])),  # v at pos 2..41
        (2, " ".join(v[0:25])),  # doc-1 tokens 2..26 (25 tokens)
        (3, " ".join(v[10:35])),  # doc-1 tokens 12..36 (25 tokens)
        (4, "plain unrelated text with no duplication at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["covered_tokens"], r["covered_frac"])
        for r in dup_span_coverage(docs).collect()
    }
    assert set(got) == {1, 2, 3, 4}  # every doc reported
    assert got[1] == (44, 35, round(35 / 44, 4))  # union, not 50
    assert got[2] == (25, 25, 1.0)  # fully contained excerpt
    assert got[3] == (25, 25, 1.0)
    assert got[4] == (9, 0, 0.0)


def test_jaccard_budget_binding_recall_gate(spark):
    """Regression gate on the selectivity-collapse branch (VERDICT r7
    #5, BASELINE §6i): when the candidate budget BINDS and the df-cut
    inverted index alone can no longer carry recall, the 8-band×4-row
    MinHash fallback must recover ≥ 99.5% of planted near-dup truth —
    a refactor that quietly degrades the fallback geometry (fewer
    bands, broken signature parity, dropped union) fails here instead
    of silently shipping. Fully seeded: md5-based hashing + fixed rng
    make the outcome bit-deterministic."""
    import random

    from ballcone_spark.operators.dedup import (
        _JACCARD_THRESHOLD,
        _NGRAM,
        adaptive_df_cut,
        containment_pairs,
        jaccard_pairs,
        shingle_rows,
    )

    rng = random.Random(20260814)
    vocab = [f"w{i}" for i in range(12)]  # 12³ = 1728 possible trigrams:
    # the shingle space SATURATES at a few hundred docs, the exact
    # regime where every df grows with n_docs and the budget must bind
    rows, toks, did = [], {}, 0
    for _ in range(400):
        t = [rng.choice(vocab) for _ in range(40)]
        toks[did] = t
        rows.append((did, " ".join(t)))
        did += 1
    planted = []
    for base in range(150):  # high-J near-dups: one token substituted
        t = list(toks[base])
        t[rng.randrange(len(t))] = rng.choice(vocab)
        toks[did] = t
        rows.append((did, " ".join(t)))
        planted.append((base, did))
        did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    def sh(t):
        return {
            " ".join(t[i : i + _NGRAM]) for i in range(len(t) - _NGRAM + 1)
        }

    truth = {
        (a, b)
        for a, b in planted
        if len(sh(toks[a]) & sh(toks[b]))
        / len(sh(toks[a]) | sh(toks[b]))
        >= _JACCARD_THRESHOLD
    }
    assert len(truth) >= 100  # the plant is non-vacuous

    budget = 1_000
    # the budget must actually BIND on this corpus (same construction
    # as _rare_shingle_candidates: hashed index, corpus-scaled cut)
    e = shingle_rows(docs, n=_NGRAM)
    e_idx = e.select("doc_id", F.xxhash64("s").alias("s"))
    cut, collapsed = adaptive_df_cut(e_idx, 64, budget)
    assert collapsed, "corpus no longer triggers the fallback branch"

    found = {
        (r["a_id"], r["b_id"])
        for r in jaccard_pairs(docs, pair_budget=budget).collect()
    }
    missed = truth - found
    recall = 1 - len(missed) / len(truth)
    # 8×4 banding on THIS seeded corpus deterministically recovers
    # 149/150 (the one miss is a J=0.854 borderline pair, per-pair
    # band-miss ≈ 0.23% — inside the measured §6i envelope); a 4-band
    # regression lands near 95% here, so the 99% bar separates cleanly
    assert recall >= 0.99, f"fallback recall {recall:.4f}, missed {missed}"

    def jac(p):
        a, b = p
        return len(sh(toks[a]) & sh(toks[b])) / len(sh(toks[a]) | sh(toks[b]))

    # any miss must be in the borderline zone the envelope predicts —
    # losing a high-J (near-identical) pair means broken signatures,
    # not band-geometry odds
    assert all(jac(p) < 0.9 for p in missed), f"high-J pair missed: {missed}"

    # containment shares the same candidate machinery. Its documented
    # envelope: an excerpt is found when it shares ≥1 sub-cut shingle
    # with its container — i.e. the text is DISTINCTIVE (every shingle
    # of the saturated 12-word corpus is hot, so a truncation there is
    # the documented out-of-envelope case). Plant a distinctive doc +
    # its 40% truncation (containment 1.0, Jaccard ≈ 0.4, df = 2
    # shingles) and require it found under the same binding budget.
    utok = [f"u{i}" for i in range(40)]
    extra = spark.createDataFrame(
        [(8_000, " ".join(utok)), (9_000, " ".join(utok[:16]))],
        "doc_id long, text string",
    )
    cont = {
        (r["a_id"], r["b_id"])
        for r in containment_pairs(
            docs.union(extra), pair_budget=budget
        ).collect()
    }
    assert (8_000, 9_000) in cont


def test_ann_lsh_subset_of_bruteforce_corpus(spark):
    """ANN results are real corpus vectors with correct sims (spot-check
    against brute force for overlapping neighbors)."""
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.where(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in knn_bruteforce(emb, q, 50).collect()
    }
    approx = ann_lsh(emb, q, 5)
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in exact:
            assert abs(exact[key] - r["sim"]) < 1e-6


def test_multimodal_decode_plumbing(spark):
    media = make_fake_media(spark, 50)
    feats = decode_image_features(media, fake=True)
    rows = {r["id"]: r for r in feats.collect()}
    assert len(rows) == 50
    # deterministic: recompute row 7's features driver-side
    payload = b"payload-000007-audio"
    expect_md5 = hashlib.md5(payload).hexdigest()
    assert rows[7]["content_md5"] == expect_md5
    assert rows[7]["n_bytes"] == len(payload)
    assert len(rows[7]["feature"]) == 8
    assert all(0 <= v <= 1 for v in rows[7]["feature"])


def test_multimodal_compressed_decode_is_stubbed(spark):
    media = make_fake_media(spark, 3)  # payloads are not PPM/WAV
    with pytest.raises(Exception):
        # fake=False on a non-PPM payload must raise inside the UDF
        decode_image_features(media, fake=False).collect()


def _fixture_bytes(name):
    import os

    p = os.path.join(os.path.dirname(__file__), "fixtures", name)
    with open(p, "rb") as f:
        return f.read()


def test_multimodal_real_ppm_decode(spark):
    """REAL image decode (VERDICT r3 #4): committed P6 fixture — 4x2,
    left half pure red, right half pure blue — must yield exact pixel
    statistics through the full mapInPandas path, not fake-derived
    ones."""
    import hashlib as _hl

    from ballcone_spark.operators.multimodal import MEDIA_SCHEMA

    ppm = _fixture_bytes("sample_image.ppm")
    media = spark.createDataFrame(
        [
            {
                "id": 1,
                "modality": "image",
                "payload": ppm,
                "meta": {
                    "width": 4,
                    "height": 2,
                    "sample_rate": None,
                    "n_frames": None,
                    "content_type": "image/x-portable-pixmap",
                },
            }
        ],
        schema=MEDIA_SCHEMA,
    )
    row = decode_image_features(media, fake=False).collect()[0]
    assert row["n_bytes"] == len(ppm)
    assert row["content_md5"] == _hl.md5(ppm).hexdigest()
    f = row["feature"]
    # [mean_r, mean_g, mean_b, mean_luma, min_luma, max_luma,
    #  luma_rms_contrast, aspect]
    assert f[0] == pytest.approx(0.5)  # half the pixels are full red
    assert f[1] == pytest.approx(0.0)
    assert f[2] == pytest.approx(0.5)
    assert f[3] == pytest.approx((0.299 + 0.114) / 2)
    assert f[4] == pytest.approx(0.114)  # blue luma (Rec.601)
    assert f[5] == pytest.approx(0.299)  # red luma
    assert f[6] == pytest.approx(abs(0.299 - 0.114) / 2)
    assert f[7] == pytest.approx(2.0)  # 4 wide / 2 tall


def test_multimodal_real_png_decode_matches_ppm(spark):
    """REAL PNG decode (VERDICT r4 #6): the committed PNG fixture
    encodes the SAME 4x2 half-red/half-blue pixels as the PPM fixture
    (Paeth-filtered, zlib-compressed); through the full mapInPandas
    path its features must equal the PPM fixture's bit-for-bit."""
    import hashlib as _hl

    from ballcone_spark.operators.multimodal import MEDIA_SCHEMA

    png = _fixture_bytes("sample_image.png")
    ppm = _fixture_bytes("sample_image.ppm")
    media = spark.createDataFrame(
        [
            {
                "id": i,
                "modality": "image",
                "payload": p,
                "meta": {
                    "width": 4,
                    "height": 2,
                    "sample_rate": None,
                    "n_frames": None,
                    "content_type": ct,
                },
            }
            for i, (p, ct) in enumerate(
                [(png, "image/png"), (ppm, "image/x-portable-pixmap")]
            )
        ],
        schema=MEDIA_SCHEMA,
    )
    rows = {r["id"]: r for r in decode_image_features(media, fake=False).collect()}
    assert rows[0]["n_bytes"] == len(png)
    assert rows[0]["content_md5"] == _hl.md5(png).hexdigest()
    assert rows[0]["feature"] == rows[1]["feature"]  # bit-for-bit


def test_png_codec_roundtrip_property():
    """Pure-Python property test: make_png → _parse_png is the identity
    on pixels across sizes, every scanline filter type (0–4), and
    RGB/RGBA — alpha is dropped by the parser, never leaking into the
    RGB planes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ballcone_spark.operators.multimodal import (
        _parse_png,
        _parse_ppm,
        make_png,
        make_ppm,
    )

    @settings(max_examples=60, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        ft=st.integers(0, 4),
        seed=st.integers(0, 2**16),
        rgba=st.booleans(),
    )
    def png_roundtrip(w, h, ft, seed, rgba):
        def px(x, y):
            v = (x * 37 + y * 11 + seed) % 256
            return (v, (v * 5) % 256, (v * 13) % 256)

        alpha = (lambda x, y: (x + y + seed) % 256) if rgba else None
        payload = make_png(w, h, px, filter_type=ft, alpha_fn=alpha)
        rw, rh, rgb = _parse_png(payload)
        assert (rw, rh) == (w, h)
        # identical pixels through a completely different container:
        # PNG (filtered+compressed) and PPM (raw) must agree byte-wise
        assert rgb == _parse_ppm(make_ppm(w, h, px))[2]

    png_roundtrip()


def test_png_mixed_filter_rows_property():
    """The unfilter processes MIXED per-row filter types: runs of
    Average/Paeth rows go through the anti-diagonal wavefront, split by
    None/Sub/Up rows — make_png's single-filter output never exercises
    run boundaries, so hand-assemble streams with a per-row random
    filter and check pixels round-trip exactly."""
    import random
    import struct
    import zlib

    from ballcone_spark.operators.multimodal import _parse_png

    def build_mixed(w, h, ch, seed):
        rnd = random.Random(seed)
        img = [[rnd.randrange(256) for _ in range(w * ch)] for _ in range(h)]
        stride = w * ch
        raw = bytearray()
        prev = [0] * stride
        for y in range(h):
            ft = rnd.randint(0, 4)
            raw.append(ft)
            line = img[y]
            for k in range(stride):
                a = line[k - ch] if k >= ch else 0
                b = prev[k]
                c = prev[k - ch] if k >= ch else 0
                if ft == 0:
                    f = line[k]
                elif ft == 1:
                    f = (line[k] - a) & 0xFF
                elif ft == 2:
                    f = (line[k] - b) & 0xFF
                elif ft == 3:
                    f = (line[k] - ((a + b) >> 1)) & 0xFF
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    )
                    f = (line[k] - pred) & 0xFF
                raw.append(f)
            prev = line
        def chunk(t, d):
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 6, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )
        rgb = bytes(
            b
            for y in range(h)
            for x in range(w)
            for b in img[y][x * ch : x * ch + 3]
        )
        return png, rgb

    for seed in range(25):
        rnd = random.Random(7000 + seed)
        w, h = rnd.randint(1, 24), rnd.randint(1, 24)
        ch = rnd.choice([3, 4])
        png, rgb = build_mixed(w, h, ch, seed)
        rw, rh, got = _parse_png(png)
        assert (rw, rh) == (w, h)
        assert got == rgb, (seed, w, h, ch)


def test_multimodal_real_wav_decode(spark):
    """REAL audio decode (VERDICT r3 #4): committed 16-bit PCM WAV
    fixture — 8 kHz mono, 4000-sample full-alternating square wave at
    half scale — must yield exact header fields and signal features."""
    from ballcone_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio_features,
    )

    wav = _fixture_bytes("sample_audio.wav")
    media = spark.createDataFrame(
        [
            {
                "id": 9,
                "modality": "audio",
                "payload": wav,
                "meta": {
                    "width": None,
                    "height": None,
                    "sample_rate": 8000,
                    "n_frames": None,
                    "content_type": "audio/wav",
                },
            }
        ],
        schema=MEDIA_SCHEMA,
    )
    row = decode_audio_features(media, fake=False).collect()[0]
    assert row["sample_rate"] == 8000
    assert row["n_channels"] == 1
    assert row["duration_s"] == pytest.approx(0.5)  # 4000 / 8000
    rms, peak, zcr, mean = row["feature"]
    assert rms == pytest.approx(0.5)  # ±16384 of 32768 full scale
    assert peak == pytest.approx(0.5)
    assert zcr == pytest.approx(3999 / 4000)  # alternates every sample
    assert mean == pytest.approx(0.0)


def test_multimodal_wav_stereo_and_fake_path(spark):
    """Stereo WAV decodes channel 0; the fake path keeps identical
    schema/batch shapes for formats without a native codec."""
    from ballcone_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_audio_features,
        make_wav,
    )

    stereo = make_wav(16000, [8192] * 160, n_channels=2)
    media = spark.createDataFrame(
        [
            {"id": 1, "modality": "audio", "payload": stereo, "meta": None},
            {"id": 2, "modality": "audio", "payload": b"not-audio", "meta": None},
        ],
        schema=MEDIA_SCHEMA,
    )
    real = {
        r["id"]: r
        for r in decode_audio_features(
            media.where("id = 1"), fake=False
        ).collect()
    }
    assert real[1]["n_channels"] == 2
    assert real[1]["duration_s"] == pytest.approx(0.01)
    assert real[1]["feature"][0] == pytest.approx(0.25)  # constant 1/4 FS
    fake = decode_audio_features(media, fake=True).collect()
    assert len(fake) == 2 and all(len(r["feature"]) == 4 for r in fake)
    with pytest.raises(Exception):
        decode_audio_features(media.where("id = 2"), fake=False).collect()


def test_frame_sampling(spark):
    media = make_fake_media(spark, 30)
    frames = sample_frames(media, every_nth=30, fake=True).collect()
    # videos have n_frames = 30*(1+i%5); sampling every 30th frame yields
    # 1 + (n_frames-1)//30 frames each
    by_id = {}
    for r in frames:
        by_id.setdefault(r["id"], []).append(r["frame_idx"])
    for i in range(2, 30, 3):  # video ids
        n_frames = 30 * (1 + i % 5)
        assert by_id[i] == list(range(0, n_frames, 30))


def test_approx_uniques_tracks_exact(spark):
    """The HLL opt-in for dashboards at extreme scale (SURVEY.md §2 Q4
    note: approx_count_distinct, rsd=1%) stays within 5% of the exact
    daily uniques the driver query computes."""
    import __spark_entry__ as m
    from ballcone_spark.queries import load_table

    qs = m.queries()
    approx = {
        r["date"]: r["approx_uniques"]
        for r in load_table(spark, SF, "events")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_uniques"))
        .collect()
    }
    exact = {
        r["date"]: r["count"]
        for r in qs["events_daily_unique_users"](spark, SF).collect()
    }
    assert approx.keys() == exact.keys()
    for d, e in exact.items():
        assert abs(approx[d] - e) / e <= 0.05


def test_ivf_ann_shape_and_sims(spark):
    """IVF results: ranks 1..k contiguous, sims non-increasing per query,
    neighbors are real corpus ids, self excluded."""
    from ballcone_spark.operators.embedding_dedup import _label_centroids, ivf_ann
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = emb.where(F.col("vec_id") < 5)
    rows = ivf_ann(emb, q, _label_centroids(emb), 5).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)


def test_embedding_lsh_finds_planted_dups(spark):
    """The testdata has no cos>=0.9 pairs (max ~0.51), so the driver
    contract matches on empty=empty. Plant perturbed copies here and
    assert the multi-probe-LSH + exact-verify path recovers exactly the
    true pair set (no false positives, full recall on planted dups)."""
    import numpy as np

    from ballcone_spark.operators.embedding_dedup import embedding_near_dup_pairs
    from ballcone_spark.queries import load_table

    base = (
        load_table(spark, SF, "embeddings")
        .selectExpr("vec_id", "cast(embedding as array<double>) embedding")
        .collect()
    )
    rng = np.random.default_rng(42)
    rows = [(r["vec_id"], list(r["embedding"])) for r in base]
    planted = []
    for r in base[:20]:
        v = np.array(r["embedding"])
        v2 = v + rng.normal(0, 0.02 * np.linalg.norm(v) / len(v) ** 0.5, len(v))
        rows.append((r["vec_id"] + 10000, [float(x) for x in v2]))
        planted.append((r["vec_id"], r["vec_id"] + 10000))
    # numpy ground truth at the same threshold
    ids = [i for i, _ in rows]
    mat = np.array([v for _, v in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    truth = {
        (ids[i], ids[j])
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= 0.9
    }
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    assert set(planted) <= truth  # perturbation small enough
    assert got <= truth  # exact verification: no false positives
    assert len(got) / len(truth) >= 0.95  # LSH recall on near-identical pairs


def test_exact_ntile_matches_window_ntile(spark):
    """The distributed exact-ntile must reproduce the single-partition
    ntile() window bit-for-bit (tile sizes AND members) on unique keys."""
    from pyspark.sql import Window

    from ballcone_spark.operators.ranking import exact_ntile, global_row_number

    rows = [(i, float((i * 37) % 101) + i / 1000.0) for i in range(523)]
    df = spark.createDataFrame(rows, "id int, x double")
    want = {
        (r["id"], r["t"])
        for r in df.withColumn(
            "t", F.ntile(7).over(Window.orderBy("x"))
        ).collect()
    }
    got = {
        (r["id"], r["tile"])
        for r in exact_ntile(df, "x", 7, num_buckets=8, tile_col="tile").collect()
    }
    assert got == want
    # global_row_number is a permutation of 1..N consistent with the order
    ranked = global_row_number(df, "x", num_buckets=8).collect()
    by_rn = sorted(ranked, key=lambda r: r["rn"])
    assert [r["rn"] for r in by_rn] == list(range(1, 524))
    xs = [r["x"] for r in by_rn]
    assert xs == sorted(xs)


def test_jaccard_df_cut_survives_hot_shingle(spark):
    """Adversarial corpus: every doc shares one corpus-wide hot trigram
    (the stopword mega-bucket that used to collect one giant array). The
    df-cut drops it from the inverted index, the bucket join never sees
    it, and the reported pairs still exactly match the brute-force
    Jaccard ground truth because near-dups share plenty of rare shingles."""
    from itertools import combinations

    from ballcone_spark.functions.text import shingles_of, tokens
    from ballcone_spark.operators.dedup import hot_shingles, jaccard_pairs
    from ballcone_spark.functions.text import shingle_rows

    hot = "the quick fox"
    docs = []
    for i in range(40):
        # unique tail per doc, shared hot prefix
        body = " ".join(f"w{i}_{j}" for j in range(12))
        docs.append((i, f"{hot} {body}"))
    # plant near-dup pair: doc 100/101 differ by one token
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs.append((100, f"{hot} {base}"))
    docs.append((101, f"{hot} {base} lambda"))
    df = spark.createDataFrame(docs, "doc_id int, text string")

    # the hot shingle really is cut (df == 42 > max_df=16)
    e = shingle_rows(df, n=3)
    hot_set = {r["s"] for r in hot_shingles(e, max_df=16).collect()}
    assert any(hot in s or s in ("the quick fox",) for s in hot_set)

    got = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(df, max_df=16).collect()
    }
    # brute-force ground truth over distinct shingle sets
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in df.select(
            "doc_id", shingles_of(tokens(F.col("text"))).alias("sh")
        ).collect()
    }
    truth = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            truth[(a, b)] = round(inter / len(sets[a] | sets[b]), 4)
    # pairs sharing ONLY the hot shingle are legitimately absent from the
    # candidate set; everything with a rare shared shingle must agree
    rare_truth = {
        k: v
        for k, v in truth.items()
        if sets[k[0]] & sets[k[1]] - {s for s in hot_set}
    }
    assert got == rare_truth
    assert (100, 101) in got  # the planted near-dup survives the cut
    assert got[(100, 101)] >= 0.6


def test_adaptive_df_cut_budget(spark):
    """The budgeted cut picks the largest df whose cumulative pair count
    fits, and reports collapse only when the budget binds below the
    corpus cut."""
    from ballcone_spark.operators.dedup import adaptive_df_cut

    # histogram: df=2 × 3 shingles (3 pairs), df=3 × 2 (6), df=5 × 1 (10)
    rows = []
    sid = 0
    for df_val, n_sh in [(2, 3), (3, 2), (5, 1)]:
        for _ in range(n_sh):
            rows += [(d, f"s{sid}") for d in range(df_val)]
            sid += 1
    e = spark.createDataFrame(rows, "doc_id int, s string")

    assert adaptive_df_cut(e, 64, 10**6) == (64, False)  # nothing binds
    assert adaptive_df_cut(e, 64, 19) == (64, False)     # exactly fits (3+6+10)
    assert adaptive_df_cut(e, 64, 18) == (4, True)       # df=5 row blows it
    assert adaptive_df_cut(e, 64, 8) == (2, True)        # df=3 row blows it
    assert adaptive_df_cut(e, 64, 2) == (1, True)        # even df=2 too many
    assert adaptive_df_cut(e, 4, 18) == (4, False)       # corpus cut already excludes df=5
    assert adaptive_df_cut(e, 4, 8) == (2, True)


def test_minhash_signatures_np_matches_jvm(spark):
    """The Arrow MinHash kernel must be BIT-identical to the JVM HOF
    formulation — on the oracle corpus and on planted text — for both
    the floor hash count and an extended adaptive one (hashes ≥ 16 draw
    from the same (a, b) formula sequence)."""
    from ballcone_spark.operators.dedup import (
        N_HASHES,
        minhash_signatures,
        minhash_signatures_np,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    for nh in (N_HASHES, 24):
        jvm = {
            r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(nh))
            for r in minhash_signatures(docs, n_hashes=nh).collect()
        }
        arw = {
            r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(nh))
            for r in minhash_signatures_np(docs, n_hashes=nh).collect()
        }
        assert jvm == arw, f"n_hashes={nh}"

    # planted text incl. a <n-token doc: the Arrow kernel emits no row
    # for it (the oracle's WHERE len(t) >= n); the JVM twin emits null
    # sigs — both yield zero candidates downstream
    # ADVICE r7: whitespace-parity + NULL edge docs (the shingle_sets_np
    # contract) — leading \t yields a leading empty JVM token; \x0b is
    # Java \s but vertical-tab; \xa0 is Unicode whitespace Python's
    # DEFAULT split eats but Java \s (and re.ASCII) must NOT; NULL text
    # must not crash the kernel (JVM → null sigs, Arrow → no row)
    planted = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma"),
            (2, "xy z"),
            (3, "\ta  b\x0bc"),
            (4, "x\xa0y alpha beta"),
            (5, None),
        ],
        "doc_id int, text string",
    )
    jvm = {
        r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(N_HASHES))
        for r in minhash_signatures(planted).collect()
        if r["sig_0"] is not None
    }
    arw = {
        r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(N_HASHES))
        for r in minhash_signatures_np(planted).collect()
    }
    assert jvm == arw and set(arw) == {0, 1, 3, 4}


def test_adaptive_band_rows_floor_and_growth():
    """Floor geometry for every oracle-checked corpus size; +2 rows per
    4x growth above it (the quadratic-band-density fix)."""
    from ballcone_spark.operators.dedup import (
        _BAND_SCALE_N,
        N_BANDS,
        N_HASHES,
        adaptive_band_rows,
    )

    floor = N_HASHES // N_BANDS
    for n in (0, 500, 5_000, 50_000, _BAND_SCALE_N):
        assert adaptive_band_rows(n) == floor
    assert adaptive_band_rows(4 * _BAND_SCALE_N) == floor + 2
    assert adaptive_band_rows(16 * _BAND_SCALE_N) == floor + 4
    assert adaptive_band_rows(500_000) == floor + 4  # the measured sf10
    # r10: sf30 (1.5 M docs) must STEP to rows=10 — with the old 100 k
    # anchor, 500 k and 1.5 M shared the rows=8 plateau and candidate
    # mass grew 8.9× for 3× docs (BASELINE §6s); the 50 k anchor fires
    # the step at >800 k docs (measured: 1.7× candidate cut, J=1.0
    # recall 100 %, J≥0.95 recall 99.7 %)
    assert adaptive_band_rows(1_500_000) == floor + 6
    assert adaptive_band_rows(800_000) == floor + 4  # last of the plateau


def _assert_matches_oracle(spark, name: str, sf_dir: str) -> int:
    """Run registered query ``name`` over ``sf_dir`` and its DuckDB oracle
    over the same parquet files (a file or a part-file dir per table);
    assert they agree under ``test_oracle_diff``'s normalizer. Returns
    the row count."""
    import os

    import duckdb
    from test_oracle_diff import _norm_pdf

    from ballcone_spark.queries import QUERIES

    spec = QUERIES[name]
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            if os.path.isdir(path):
                path = os.path.join(path, "*.parquet")
            con.execute(
                f"CREATE VIEW {f[: -len('.parquet')]} AS "
                f"SELECT * FROM read_parquet('{path}')"
            )
    got = _norm_pdf(spec.fn(spark, sf_dir).toPandas())
    want = _norm_pdf(con.execute(spec.oracle).df())
    assert got == want, name
    return len(got)


def test_minhash_vectorized_pairs_match_oracle(spark):
    """At this SF (under the adaptive floor) the LSH query's pairs are
    exactly the DuckDB oracle's: floor 4×4 geometry, Arrow signatures
    bit-identical to the oracle's md5 permutation minima."""
    assert _assert_matches_oracle(spark, "dedup_minhash_lsh_vectorized", SF) > 0


def test_containment_catches_truncation_jaccard_misses(spark):
    """The asymmetric-dup class: a 30% excerpt of a long doc has
    containment ≈1.0 from the excerpt side but Jaccard ≈0.3 — under
    every Jaccard dedup threshold. containment_pairs must flag it;
    jaccard_pairs at 0.8 must not; and unrelated docs stay clean."""
    from ballcone_spark.operators.dedup import (
        _CONTAINMENT_THRESHOLD,
        containment_pairs,
        jaccard_pairs,
    )

    long_words = " ".join(f"tok{j} word{j} mid{j}" for j in range(30))
    excerpt = " ".join(long_words.split()[: 27])  # first ~30%
    docs = [(0, long_words), (1, excerpt)]
    for i in range(2, 20):  # background docs, fully distinct vocab
        docs.append((i, " ".join(f"bg{i}_{j}" for j in range(15))))
    df = spark.createDataFrame(docs, "doc_id int, text string")

    cont = {
        (r["a_id"], r["b_id"]): r
        for r in containment_pairs(df).collect()
    }
    hit = cont[(0, 1)]
    assert hit["containment_b"] >= _CONTAINMENT_THRESHOLD  # excerpt ⊆ source
    assert hit["containment_a"] < 0.5  # asymmetric, as planted
    assert hit["jaccard"] < 0.5  # Jaccard alone would keep the dup

    jacc = {(r["a_id"], r["b_id"]) for r in jaccard_pairs(df).where(
        "jaccard >= 0.8").collect()}
    assert (0, 1) not in jacc  # the class jaccard misses

    flagged = {
        k
        for k, r in cont.items()
        if max(r["containment_a"], r["containment_b"])
        >= _CONTAINMENT_THRESHOLD
    }
    assert flagged == {(0, 1)}  # no background false positives


def test_gram_rows_matches_ngrams_hof(spark):
    """The codegen posexplode+lead gram builder must reproduce the HOF
    `_ngrams` formulation exactly — grams AND positions — including the
    edges: empty tokens from double spaces, docs shorter than n, and
    duplicate grams within a doc."""
    from ballcone_spark.operators.lm_quality import _gram_rows
    from ballcone_spark.operators.repetition import _ngrams

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f"),
            (1, "a  b c"),      # double space → empty token
            (2, "x y"),          # shorter than n=5
            (3, "a b a b a b"),  # duplicate grams
            (4, ""),
        ],
        "doc_id int, text string",
    )
    for n in (2, 5):
        hof = sorted(
            tuple(r)
            for r in docs.select(
                "doc_id",
                F.posexplode(_ngrams(F.split(F.col("text"), " "), n)).alias(
                    "pos", "g"
                ),
            ).collect()
        )
        new = sorted(tuple(r) for r in _gram_rows(docs, "text", n).collect())
        assert hof == new, f"n={n}"


def test_pii_scrub_redacts_planted_pii(spark, tmp_path):
    """Planted-PII semantics for the scrubber (the synthetic corpus has
    none, so the registered query's counts are vacuously zero there):
    emails / IPv4s / phone-shaped runs are redacted and counted, clean
    text passes through byte-identical — and DuckDB replays the full
    per-source report on the SAME planted corpus, hash-equal."""
    import math

    import duckdb

    from ballcone_spark.operators.text_analysis import pii_scrub
    from ballcone_spark.queries import EXTRA_QUERIES

    docs = [
        (0, "src0", "contact john.doe+spam@example.co.uk for info"),
        (1, "src0", "server at 192.168.1.254 port open"),
        (2, "src1", "call +1 555-123-4567 or 555 867 5309 now"),
        (3, "src1", "clean text with no pii at all"),
        (4, "src1", "mixed a@b.io and 10.0.0.1 and +44 20 7946 0958"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, source string, text string")
    out = {r["doc_id"]: r for r in pii_scrub(df).collect()}

    assert out[0]["n_emails"] == 1
    assert "<EMAIL>" in out[0]["text_clean"]
    assert "@" not in out[0]["text_clean"]
    assert out[1]["text_clean"] == "server at <IP> port open"
    assert out[2]["n_phones"] == 2
    assert out[2]["text_clean"] == "call <PHONE> or <PHONE> now"
    assert out[3]["text_clean"] == docs[3][2]  # clean text untouched
    assert (
        out[4]["n_emails"] == 1
        and out[4]["n_ipv4"] == 1
        and out[4]["n_phones"] == 1
    )

    # cross-engine: the registered report vs its oracle on planted data
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spec = EXTRA_QUERIES["docs_pii_scrub"]
    sdf = spec.fn(spark, str(tmp_path))
    srows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    cur = con.execute(spec.oracle)
    drows = cur.fetchall()
    dcols = [d[0] for d in cur.description]
    assert sorted(sdf.columns) == sorted(dcols)

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for row in rows:
            vals = []
            for i in order:
                v = row[i]
                if isinstance(v, float):
                    v = round(v, 4)
                    if math.isclose(v, 0.0, abs_tol=1e-9):
                        v = 0.0
                vals.append(str(v))
            out.append(tuple(vals))
        return sorted(out)

    assert norm(srows, sdf.columns) == norm(drows, dcols)


def test_jaccard_selectivity_collapse_fallback(spark):
    """Saturated-shingle-space corpus (5-word vocab → every trigram is
    corpus-hot): with a tiny pair budget the inverted index is cut to
    nothing, the MinHash-band fallback engages, and the planted near-dup
    pair is still reported with its EXACT brute-force Jaccard."""
    import random
    from itertools import combinations

    from ballcone_spark.functions.text import shingles_of, tokens
    from ballcone_spark.operators.dedup import adaptive_df_cut, jaccard_pairs
    from ballcone_spark.functions.text import shingle_rows

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(15))) for i in range(30)
    ]
    base = " ".join(rng.choice(vocab) for _ in range(12))
    docs.append((100, base))
    docs.append((101, base + " aa"))  # J = |sh∩| / |sh∪| ≥ 0.8 by construction
    df = spark.createDataFrame(docs, "doc_id int, text string")

    e = shingle_rows(df, n=3)
    assert adaptive_df_cut(e, 64, 5)[1] is True  # collapse really engages

    got = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(df, max_df=64, pair_budget=5).collect()
    }
    sets = {
        r["doc_id"]: set(r["sh"])
        for r in df.select(
            "doc_id", shingles_of(tokens(F.col("text"))).alias("sh")
        ).collect()
    }
    truth = {}
    for a, b in combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        if inter:
            truth[(a, b)] = round(inter / len(sets[a] | sets[b]), 4)
    assert (100, 101) in got  # planted pair found via bands
    assert got[(100, 101)] == truth[(100, 101)]  # value stays exact
    assert got[(100, 101)] >= 0.8
    # every reported value is the exact brute-force Jaccard (the fallback
    # changes candidate generation only, never values)
    for k, v in got.items():
        assert v == truth[k], k


def test_jaccard_budget_not_binding_is_identical(spark):
    """Below the budget the plan is the exhaustive inverted index —
    forcing an effectively infinite budget yields the same pairs."""
    from ballcone_spark.operators.dedup import jaccard_pairs

    docs = [
        (i, " ".join(f"w{i}_{j}" for j in range(10)) + " shared tail here")
        for i in range(25)
    ]
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs.append((100, base))
    docs.append((101, base + " iota"))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    a = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(df, max_df=16).collect()
    }
    b = {
        (r["a_id"], r["b_id"]): round(r["jaccard"], 4)
        for r in jaccard_pairs(df, max_df=16, pair_budget=10**9).collect()
    }
    assert a == b and a  # identical and non-empty


def test_overlap_pairs_bin_edges(spark):
    """Bin-bucketed range join is EXACT: overlaps spanning bin borders
    are found (candidate bins cover the whole interval), and
    same-bin-but-disjoint intervals are rejected by the verify filter."""
    import datetime as dt

    from ballcone_spark.operators.range_join import overlap_pairs

    T = dt.datetime
    rows = [
        # id, start, end
        (1, T(2024, 1, 1, 10, 50), T(2024, 1, 1, 11, 10)),  # spans 10h/11h bins
        (2, T(2024, 1, 1, 11, 5), T(2024, 1, 1, 11, 20)),   # overlaps 1 in 11h bin
        (3, T(2024, 1, 1, 11, 30), T(2024, 1, 1, 11, 40)),  # same bin as 2, disjoint
        (4, T(2024, 1, 1, 13, 0), T(2024, 1, 1, 14, 0)),    # far away
        (5, T(2024, 1, 1, 10, 0), T(2024, 1, 1, 10, 50)),   # touches 1 exactly (inclusive)
    ]
    df = spark.createDataFrame(rows, "id int, start timestamp, end timestamp")
    got = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in overlap_pairs(df, df, on=[]).collect()
        if r["a_id"] != r["b_id"]
    }
    assert got == {(1, 2), (1, 5)}


def test_overlap_pairs_pathological_long_interval(spark):
    """A months-long interval must NOT explode into thousands of hour
    bins (the binned branch is linear only for bounded lengths): rows
    over ``long_threshold`` take the rare-row broadcast path instead,
    and the result stays exact vs brute force."""
    import datetime as dt
    import itertools

    from ballcone_spark.operators.range_join import overlap_pairs

    T = dt.datetime
    rows = [
        # one 90-day monster + short intervals scattered inside and out
        (1, T(2024, 1, 1), T(2024, 3, 31)),
        (2, T(2024, 1, 15, 10), T(2024, 1, 15, 11)),
        (3, T(2024, 2, 20, 9), T(2024, 2, 20, 9, 30)),
        (4, T(2024, 6, 1, 8), T(2024, 6, 1, 9)),
        (5, T(2024, 3, 30, 23), T(2024, 4, 1, 1)),
        # second long row overlapping the first (long×long pair)
        (6, T(2024, 3, 1), T(2024, 5, 1)),
    ]
    df = spark.createDataFrame(rows, "id int, start timestamp, end timestamp")
    got = {
        tuple(sorted((r["a_id"], r["b_id"])))
        for r in overlap_pairs(df, df, on=[], long_threshold="7 days").collect()
        if r["a_id"] != r["b_id"]
    }
    brute = {
        tuple(sorted((x[0], y[0])))
        for x, y in itertools.permutations(rows, 2)
        if x[1] <= y[2] and y[1] <= x[2]
    }
    assert got == brute

    # Bound the explode: the binned branch must contain ONLY the short
    # rows — with a 7-day threshold and 1-hour bins no plan row explodes
    # into more than 169 bins; the 90-day rows (2160+ bins each) are
    # provably absent from the exploded side.
    short = df.where(
        (F.col("end") - F.col("start")) <= F.expr("INTERVAL 7 DAYS")
    ).count()
    assert short == 4  # ids 1 and 6 routed to the broadcast path


def test_overlap_pairs_long_broadcast_ceiling_gate(spark):
    """r16 (VERDICT r15 #4): the long-row broadcast path assumed long
    rows are rare BY DESIGN; now a plan-build count gates it. Below the
    ceiling the plan keeps the BroadcastNestedLoopJoin branch; above it
    the guard is abandoned and every row takes the bin-bucketed
    equi-join — both strategies must return identical exact results."""
    import datetime as dt
    import itertools

    from ballcone_spark.operators.range_join import overlap_pairs

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 1), T(2024, 1, 20)),          # long (> 7 days)
        (2, T(2024, 1, 15, 10), T(2024, 1, 15, 11)),  # inside 1
        (3, T(2024, 1, 25, 9), T(2024, 1, 25, 10)),   # outside 1
        (4, T(2024, 1, 2), T(2024, 1, 16)),           # long, overlaps 1+2
    ]
    df = spark.createDataFrame(rows, "id int, start timestamp, end timestamp")
    brute = {
        tuple(sorted((x[0], y[0])))
        for x, y in itertools.permutations(rows, 2)
        if x[1] <= y[2] and y[1] <= x[2]
    }

    def run(ceiling):
        out = overlap_pairs(
            df, df, on=[], long_threshold="7 days",
            long_broadcast_max=ceiling,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        got = {
            tuple(sorted((r["a_id"], r["b_id"])))
            for r in out.collect()
            if r["a_id"] != r["b_id"]
        }
        return plan, got

    plan_bc, got_bc = run(ceiling=1_000)    # 2 long rows < ceiling
    plan_binned, got_binned = run(ceiling=1)  # 2 long rows > ceiling
    assert "BroadcastNestedLoopJoin" in plan_bc
    assert "BroadcastNestedLoopJoin" not in plan_binned
    assert got_bc == got_binned == brute


def test_kmeans_codebook_properties(spark):
    """Lloyd's k-means trainer: k cells, assignments partition the
    corpus, objective (mean cosine-to-centroid) is non-decreasing over
    iterations, empty cells survive with their previous centroid."""
    from ballcone_spark.operators.kmeans import (
        assign_cells,
        kmeans_inertia,
        train_ivf_codebook,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) embedding"
    )
    n = emb.count()
    prev = None
    for iters in (1, 2, 4):
        book = train_ivf_codebook(spark, emb, k=8, iters=iters)
        assert book.count() == 8
        assigned = assign_cells(emb, book)
        assert assigned.count() == n  # a partition of the corpus
        obj = kmeans_inertia(emb, book)
        if prev is not None:
            assert obj >= prev - 1e-9  # Lloyd's monotonicity
        prev = obj
    # trained codebook beats the raw seeds by a real margin
    seeds = train_ivf_codebook(spark, emb, k=8, iters=0)
    assert prev > kmeans_inertia(emb, seeds)


def test_trainers_reject_k_above_corpus_size(spark):
    """ADVICE r3: k > corpus rows violated the 'exactly k' contract
    (kmeans) or crashed in the empty-code backfill (PQ). Both trainers
    must now fail fast with a clear ValueError."""
    import pytest as _pytest

    from ballcone_spark.operators.kmeans import train_ivf_codebook
    from ballcone_spark.operators.quantization import train_pq_codebooks

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(3)],
        "vec_id int, embedding array<double>",
    )
    with _pytest.raises(ValueError, match="exceeds corpus size"):
        train_ivf_codebook(spark, tiny, k=8, iters=1)
    with _pytest.raises(ValueError, match="exceeds corpus size"):
        train_pq_codebooks(spark, tiny, m=8, k=16, iters=1)


def test_pq_quantization_properties(spark):
    """Product quantization: codes in range, reconstruction quality
    grows with codebook size, compressed-domain ANN beats chance by a
    wide margin (random vectors are PQ's hardest case — measured 0.65
    mean recon cosine at k=16 vs 0.28 at k=2; recall ~0.28 vs ~0.01
    chance)."""
    from ballcone_spark.operators.quantization import (
        pq_ann,
        pq_encode,
        pq_reconstruct_col,
        train_pq_codebooks,
    )
    from ballcone_spark.operators.similarity import cosine, knn_bruteforce
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) embedding"
    )

    def recon_quality(k):
        books = train_pq_codebooks(spark, emb, m=8, k=k, iters=2)
        codes = pq_encode(emb, books)
        flat = [c for r in codes.select("codes").limit(50).collect() for c in r["codes"]]
        assert all(0 <= c < k for c in flat)
        mc = (
            emb.join(codes, "vec_id")
            .select(
                cosine(
                    F.col("embedding"), pq_reconstruct_col(F.col("codes"), books)
                ).alias("c")
            )
            .agg(F.avg("c"))
            .first()[0]
        )
        return books, mc

    _, lo = recon_quality(2)
    books16, hi = recon_quality(16)
    assert hi > lo + 0.2  # quality monotone in codebook size
    assert hi > 0.5

    q = emb.where(F.col("vec_id") < 5)
    bf = {(r["query_id"], r["neighbor_id"]) for r in knn_bruteforce(emb, q, 5).collect()}
    pq = {(r["query_id"], r["neighbor_id"]) for r in pq_ann(emb, q, books16, 5).collect()}
    assert len(bf & pq) / len(bf) >= 0.15  # ≫ ~0.01 chance


def test_pq_encode_np_matches_jvm(spark):
    """Code-level equality of the Arrow encoder vs the JVM literal-table
    argmin at the oracle SF (ADVICE r6: np.argmin's pairwise summation
    vs the JVM/DuckDB sequential fold could in principle flip an encode
    for near-equidistant centroids, changing reconstructions and hence
    neighbor IDs — which the recall oracle is NOT immune to; this pins
    that the risk does not materialize on the oracle data, for both the
    iters=0 seed codebooks the driver gate uses and trained ones)."""
    from ballcone_spark.operators.quantization import (
        pq_encode,
        pq_encode_np,
        train_pq_codebooks,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) embedding"
    )
    for iters in (0, 2):
        books = train_pq_codebooks(spark, emb, m=8, k=16, iters=iters)
        jvm = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
        arrow = {
            r["vec_id"]: list(r["codes"]) for r in pq_encode_np(emb, books).collect()
        }
        assert jvm == arrow, f"encode mismatch at iters={iters}"


def test_dedup_clusters_connected_components(spark):
    """Min-label propagation: chains, cliques, and singleton-free output
    on a known graph — (1-2-3-4 chain), (10-11-12 triangle), (20-21)."""
    from ballcone_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a_id int, b_id int",
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_clusters_self_pair_emits_singleton(spark):
    """ADVICE r10: an input self-pair (a_id == b_id) whose node has no
    other edges must still emit as its own singleton cluster — the node
    set is derived BEFORE the self-loop cut, so a pair source that
    doesn't enforce a_id < b_id can't silently lose a doc. A self-pair
    on a connected node changes nothing."""
    from ballcone_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(7, 7), (1, 2), (2, 2)], "a_id int, b_id int"
    )
    got = {
        r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {7: 7, 1: 1, 2: 1}


def test_dedup_clusters_long_chain_and_composition(spark):
    """A 30-node chain converges (diameter-bound rounds with early stop);
    composing with the Jaccard pair list yields a partition of the docs
    that appear in pairs."""
    from ballcone_spark.operators.dedup import dedup_clusters, jaccard_pairs
    from ballcone_spark.queries import load_table

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 130)], "a_id int, b_id int"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(chain).collect()}
    assert set(got.values()) == {100} and len(got) == 31

    pairs = jaccard_pairs(load_table(spark, SF, "documents")).where(
        F.col("jaccard") >= 0.8
    )
    clusters = dedup_clusters(pairs.select("a_id", "b_id"))
    ids_in_pairs = {
        r["a_id"] for r in pairs.collect()
    } | {r["b_id"] for r in pairs.collect()}
    labeled = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert set(labeled) == ids_in_pairs        # exactly the paired docs
    for d, c in labeled.items():
        assert c <= d and c in labeled          # labels are member minima


def test_ivf_pq_ann_composition(spark):
    """IVF routing + PQ scoring + exact rerank: valid ranked output,
    results within the query's cell, and recall vs brute force at least
    matching plain IVF (rerank can only fix PQ ordering, not add
    candidates beyond the cell)."""
    from ballcone_spark.operators.kmeans import train_ivf_codebook
    from ballcone_spark.operators.quantization import (
        ivf_pq_ann,
        train_pq_codebooks,
    )
    from ballcone_spark.operators.similarity import knn_bruteforce
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").selectExpr(
        "vec_id", "cast(embedding as array<double>) embedding"
    )
    cells = train_ivf_codebook(spark, emb, k=5, iters=2)
    books = train_pq_codebooks(spark, emb, m=8, k=16, iters=1)
    q = emb.where(F.col("vec_id") < 5)
    got = ivf_pq_ann(spark, emb, q, cells, books, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rs in by_q.items():
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rs)
    bf = {(r["query_id"], r["neighbor_id"]) for r in knn_bruteforce(emb, q, 5).collect()}
    hit = {(r["query_id"], r["neighbor_id"]) for r in got}
    assert len(bf & hit) / len(bf) >= 0.1  # cell-bounded recall, > chance


def test_codec_roundtrips_property():
    """Property tests (pure Python, no Spark): make_ppm → _parse_ppm and
    make_wav → _decode_audio_impl are exact inverses on the header
    fields, across sizes, channel counts, and comment headers."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from ballcone_spark.operators.multimodal import (
        _decode_audio_impl,
        _parse_ppm,
        make_ppm,
        make_wav,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 12),
        seed=st.integers(0, 2**16),
    )
    def ppm_roundtrip(w, h, seed):
        def px(x, y):
            v = (x * 31 + y * 17 + seed) % 256
            return (v, (v * 3) % 256, (v * 7) % 256)

        payload = make_ppm(w, h, px)
        rw, rh, rgb = _parse_ppm(payload)
        assert (rw, rh) == (w, h)
        assert len(rgb) == 3 * w * h
        # spot-check first pixel bytes
        assert tuple(rgb[0:3]) == px(0, 0)

    ppm_roundtrip()

    # PPM comments in the header must be skipped
    commented = b"P6\n# a comment\n2 1\n# more\n255\n" + bytes(6)
    assert _parse_ppm(commented)[:2] == (2, 1)

    @settings(max_examples=30, deadline=None)
    @given(
        rate=st.sampled_from([8000, 16000, 44100]),
        n=st.integers(1, 400),
        ch=st.integers(1, 2),
        amp=st.integers(0, 32767),
    )
    def wav_roundtrip(rate, n, ch, amp):
        payload = make_wav(rate, [amp] * n, n_channels=ch)
        d = _decode_audio_impl(payload)
        assert d["sample_rate"] == rate
        assert d["n_channels"] == ch
        assert d["duration_s"] == pytest.approx(n / rate)
        assert d["feature"][0] == pytest.approx(amp / 32768.0)  # RMS
        assert d["feature"][2] == 0.0  # constant signal: no crossings

    wav_roundtrip()


def test_incremental_dedup_loop_equals_simulation_randomized(spark):
    """Seeded randomized equivalence: the per-batch streaming core
    (incremental_dedup_batch over an accumulating banded index) and the
    one-statement simulation must agree on every doc's is_dup across
    random corpora with planted mutations and uneven batch splits."""
    import random

    from pyspark.sql import functions as F

    from ballcone_spark.streaming.dedup_stream import (
        _bands,
        batch_signatures,
        incremental_dedup_batch,
        incremental_dedup_simulation,
    )

    vocab = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()
    for seed in (7, 23):
        rng = random.Random(seed)
        base_texts = [
            " ".join(rng.choices(vocab, k=rng.randint(12, 25)))
            for _ in range(6)
        ]
        docs = []
        for i in range(30):
            if rng.random() < 0.5 and docs:
                # mutate an earlier doc: drop/append one word
                src = rng.choice(docs)[1].split()
                if rng.random() < 0.5 and len(src) > 5:
                    src = src[:-1]
                else:
                    src = src + [rng.choice(vocab)]
                docs.append((i, " ".join(src)))
            else:
                docs.append((i, rng.choice(base_texts)))
        batches: list[list] = [[], [], []]
        for d in docs:
            batches[rng.randint(0, 2)].append(d)

        # streaming loop, index accumulated in-memory
        streamed: dict[int, bool] = {}
        index_bands = None
        for batch in batches:
            if not batch:
                continue
            sigs = batch_signatures(
                spark.createDataFrame(batch, "doc_id long, text string")
            )
            dec = incremental_dedup_batch(sigs, index_bands)
            for r in dec.collect():
                streamed[r["doc_id"]] = r["is_dup"]
            nb = _bands(sigs)
            index_bands = (
                nb if index_bands is None else index_bands.unionByName(nb)
            )

        # declarative simulation on the same split
        batch_of = {
            d[0]: bi for bi, batch in enumerate(batches) for d in batch
        }
        all_docs = spark.createDataFrame(docs, "doc_id long, text string")
        sigs_all = batch_signatures(all_docs).withColumn(
            "batch_id",
            F.element_at(
                F.create_map(
                    *[F.lit(x) for kv in batch_of.items() for x in kv]
                ),
                F.col("doc_id").cast("int"),
            ),
        )
        simulated = {
            r["doc_id"]: r["is_dup"]
            for r in incremental_dedup_simulation(sigs_all).collect()
        }
        assert streamed == simulated, f"seed {seed}"
        assert any(simulated.values()), f"seed {seed}: vacuous (no dups)"


def test_leakage_safe_split_cluster_atomic(spark):
    """Leakage-safe splitting: (a) exact-dup fingerprint splits keep
    every fp group in one split; (b) the near-dup variant — split by
    dedup_clusters cluster_id over real Jaccard pairs — keeps every
    near-dup CLUSTER in one split; (c) non-vacuity: splitting the same
    corpus by doc_id hash instead DOES scatter at least one near-dup
    cluster across splits (the contamination the operator exists to
    prevent); (d) fractions land near 80/10/10."""
    from ballcone_spark.functions.text import fingerprint
    from ballcone_spark.operators.dedup import (
        dedup_clusters,
        jaccard_pairs,
        split_by_key,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")

    # (a) exact-dup atomicity
    fp_split = split_by_key(
        docs.select("doc_id", fingerprint(F.col("text")).alias("fp")),
        F.col("fp"),
    )
    assert (
        fp_split.groupBy("fp")
        .agg(F.count_distinct("split").alias("ns"))
        .where("ns > 1")
        .count()
        == 0
    )

    # (b) near-dup atomicity through connected components
    pairs = jaccard_pairs(docs).where(F.col("jaccard") >= 0.8)
    clusters = dedup_clusters(pairs)
    clustered = docs.join(clusters, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
    )
    safe = split_by_key(clustered, F.col("cluster_id"))
    assert (
        safe.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .where("ns > 1")
        .count()
        == 0
    )

    # (c) the naive doc_id-hash split leaks those same clusters
    naive = split_by_key(clustered, F.col("doc_id"))
    leaked = (
        naive.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("ns"))
        .where("ns > 1")
        .count()
    )
    assert leaked > 0  # real clusters exist and the naive split breaks them

    # (d) fractions ~80/10/10 (cluster-weighted, so wide tolerance)
    n = docs.count()
    frac = {
        r["split"]: r["c"] / n
        for r in safe.groupBy("split").agg(F.count("*").alias("c")).collect()
    }
    assert 0.65 <= frac["train"] <= 0.92
    assert 0.03 <= frac.get("val", 0) <= 0.2
    assert 0.03 <= frac.get("test", 0) <= 0.2


def test_decontamination_broadcasts_benchmark(spark):
    """Decontamination must broadcast the (small) benchmark n-gram set —
    the corpus side never shuffles on the shingle key — and the flags
    match the planted cross-source near-dups."""
    from ballcone_spark.operators.dedup import decontamination_flags
    from ballcone_spark.plans.explain import plan_str
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    flagged = decontamination_flags(corpus, bench)
    ids = sorted(r["doc_id"] for r in flagged.collect())
    assert len(ids) == 5  # planted cross-source near-dups at sf0.001
    p = plan_str(flagged)
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "hashpartitioning(s#" not in p  # corpus shingles never shuffle


def test_pack_sequences_contiguous_and_conserving(spark):
    """The distributed two-phase prefix sum must reproduce a contiguous
    concat-and-chunk layout: offsets start at 0 and tile the token
    stream exactly; every block but the last fills to seq_len."""
    from ballcone_spark.operators.packing import (
        pack_block_stats,
        pack_sequences,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    packed = pack_sequences(docs, 512).collect()
    by_offset = sorted(packed, key=lambda r: r["offset"])
    assert by_offset[0]["offset"] == 0
    for prev, nxt in zip(by_offset, by_offset[1:]):
        assert nxt["offset"] == prev["offset"] + prev["n_tokens"]

    blocks = pack_block_stats(pack_sequences(docs, 512), 512).collect()
    assert [b["block_id"] for b in blocks] == list(range(len(blocks)))
    assert all(b["n_tokens"] == 512 for b in blocks[:-1])
    assert 0 < blocks[-1]["n_tokens"] <= 512
    assert sum(b["n_tokens"] for b in blocks) == sum(
        r["n_tokens"] for r in packed
    )


def test_pack_sequences_single_token_docs(spark):
    """Degenerate docs (1 token) pack into exactly one block each and
    the per-bucket decomposition still matches a driver-side replay of
    the naive global cumsum."""
    from ballcone_spark.operators.packing import pack_sequences

    rows = [(i, "tok") for i in range(7)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in pack_sequences(df, 3).collect()}
    order = sorted(
        range(7),
        key=lambda i: (
            hashlib.md5(f"pack-v1-{i}".encode()).hexdigest(),
            i,
        ),
    )
    for pos, doc in enumerate(order):
        r = got[doc]
        assert (r["offset"], r["n_tokens"]) == (pos, 1)
        assert r["start_block"] == r["end_block"] == pos // 3


def test_repetition_flags_fire_on_repetitive_doc(spark):
    """A doc that is one phrase repeated must flag on both rules; a
    no-repeat doc on neither; docs with < 3 tokens have no trigram
    positions and are excluded by contract (too short to repetition-
    score — the upstream length gate owns them)."""
    from ballcone_spark.operators.repetition import repetition_flags_np

    rows = [
        (1, " ".join(["spam ham"] * 20)),
        # 30 distinct tokens: the no-repeat top-bigram floor 1/(n−1)
        # must sit below TOP_BIGRAM_T — the rule (like Gopher's)
        # presumes docs past the upstream min-length gate
        (2, " ".join(f"w{i}" for i in range(30))),
        (3, "too short"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in repetition_flags_np(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["repetitive"] and got[1]["top_bigram_frac"] > 0.4
    assert got[1]["dup_trigram_frac"] == 1.0
    assert not got[2]["repetitive"]
    assert got[2]["dup_trigram_frac"] == 0.0


def test_token_stats_vectorized_matches_oracle(spark, tmp_path):
    """The one-pass Arrow kernel against the DuckDB oracle on the corpus
    plus edge docs where the engines' regex and trim rules could part:
    trim strips only 0x20, \\s is the ASCII class, a whitespace-only
    doc has one empty token (md5('')-seeded positional fp, not 0), and
    \\xa0 is not whitespace. (0x0b is Java \\s but not RE2 \\s, so
    the oracle cannot judge it; the JVM-expression fuzz below pins it.)"""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    edge = spark.createDataFrame(
        [
            (90001, ""),                    # -> one empty token
            (90002, "   "),                 # trimmed to '' -> same
            (90003, "\ta  b\tc\n"),         # \t survives trim; splits
            (90004, "a\xa0b MiXeD CasE"),  # \xa0 is not \s -> one token
            (90005, "  x  "),               # trim both ends
        ],
        "doc_id long, text string",
    )
    docs.select("doc_id", "text").unionByName(edge).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    n = _assert_matches_oracle(spark, "docs_token_stats_vectorized", str(tmp_path))
    assert n == docs.count() + 5


def test_token_stats_kernel_fuzz_parity(spark):
    """Seeded fuzz over the Java-vs-Python regex boundary: 200 random
    strings mixing ASCII words/digits/punctuation, every ASCII
    whitespace flavor (incl. \\x0b, which IS Java \\s) and non-ASCII
    whitespace/letters (\\xa0, é, 中 — NOT Java \\s), leading/trailing
    runs, and empties. One Spark round-trip compares the kernel to the
    JVM expressions row-for-row."""
    import random

    from ballcone_spark.operators.text_analysis import token_stats_np

    rng = random.Random(4242)
    atoms = [
        "word", "W0rd", "123", "!!", "a,b", "é", "中文", "x\xa0y",
        "", " ", "  ", "\t", "\n", "\x0b", "\f", "\r", "MiXeD",
    ]
    rows = []
    for i in range(200):
        s = "".join(rng.choice(atoms) for _ in range(rng.randint(0, 12)))
        rows.append((i, s))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from pyspark.sql import functions as FF

    from ballcone_spark.functions.text import (
        avg_token_len,
        distinct_tokens,
        fingerprint,
        token_count,
        tokens,
    )
    from ballcone_spark.operators.text_analysis import _BPE_RE, _FP_P

    h = lambda tok: FF.conv(  # noqa: E731
        FF.substring(FF.md5(tok), 1, 8), 16, 10
    ).cast("long")
    t = FF.col("text")
    tok = df.select("doc_id", FF.posexplode(tokens(t)).alias("pos", "tok"))
    posfp = (
        tok.select(
            "doc_id",
            ((h(FF.col("tok")) * (FF.col("pos") + 1)) % FF.lit(_FP_P)).alias("c"),
        )
        .groupBy("doc_id")
        .agg((FF.sum("c") % FF.lit(_FP_P)).alias("positional_fp"))
    )
    bpe = FF.size(FF.regexp_extract_all(t, FF.lit(_BPE_RE), FF.lit(0)))
    ws = token_count(t)
    jvm = (
        df.select(
            "doc_id",
            ws.alias("n_tokens"),
            FF.size(distinct_tokens(t)).alias("n_uniq_tokens"),
            FF.round(avg_token_len(t), 4).alias("avg_token_len"),
            fingerprint(t).alias("fp"),
            bpe.alias("bpe_tokens"),
            FF.round(bpe.cast("double") / ws, 4).alias("tokens_per_word"),
        )
        .join(posfp, "doc_id", "left")
        .withColumn("positional_fp", FF.coalesce("positional_fp", FF.lit(0)))
        .orderBy("doc_id")
    )
    got = [tuple(r) for r in token_stats_np(df).orderBy("doc_id").collect()]
    want = [tuple(r) for r in jvm.collect()]
    assert got == want


def test_repetition_flags_vectorized_matches_oracle(spark, tmp_path):
    """The Arrow kernel against the DuckDB oracle on the test corpus
    plus edge docs — including the <3-token drop, the null-text drop,
    and the round(num/den, 4) finish."""
    from ballcone_spark.operators.repetition import repetition_flags_np

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, "a b"), (90002, None), (90003, ""), (90004, "x y x y x")],
        "doc_id long, text string",
    )
    docs = docs.select("doc_id", "text").unionByName(edge)
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    _assert_matches_oracle(spark, "docs_repetition_flags_vectorized", str(tmp_path))
    got = {r["doc_id"] for r in repetition_flags_np(docs).collect()}
    assert 90004 in got
    assert not got & {90001, 90002, 90003}


def test_shingle_sets_np_matches_jvm_projection(spark):
    """The Arrow shingle-set builder must reproduce the JVM
    shingles_of projection EXACTLY — element order included
    (first-occurrence distinct), plus the k<=0 and NULL-text
    empty-array contract — on the corpus and on edge docs."""
    from ballcone_spark.functions.text import shingles_of, tokens
    from ballcone_spark.operators.dedup import shingle_sets_np

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, "a b"), (90002, None), (90003, ""), (90004, "x y x y x y x"),
         (90005, "\ta  b\x0bc d")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"),
             F.lit("edge").alias("source"), F.lit(0).alias("n_chars"))
    docs = docs.unionByName(edge)
    jvm = {
        r["doc_id"]: list(r["sh"])
        for r in docs.withColumn("toks", tokens(F.col("text")))
        .select("doc_id", shingles_of(F.col("toks"), n=3).alias("sh"))
        .collect()
    }
    arw = {r["doc_id"]: list(r["sh"]) for r in shingle_sets_np(docs).collect()}
    assert jvm == arw
    assert arw[90001] == [] and arw[90002] == [] and arw[90003] == []


def test_bigram_lm_scores_np_matches_join_path(spark):
    """The map-side LM scorer must reproduce the shuffle-join scorer
    row-for-row (same model doubles, same <2-token drops, same
    round(·, 4) finish)."""
    from ballcone_spark.operators.lm_quality import (
        bigram_lm_scores,
        bigram_lm_scores_np,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    jvm = {r["doc_id"]: tuple(r) for r in bigram_lm_scores(docs).collect()}
    arw = {r["doc_id"]: tuple(r) for r in bigram_lm_scores_np(docs).collect()}
    assert jvm == arw and len(arw) > 100


def test_bigram_lm_scores_np_oov_drops_like_inner_join(spark):
    """Scoring text FOREIGN to the trained model must not KeyError the
    stage: OOV grams drop from both sum and count (mirroring the JVM
    inner join), and an all-OOV doc yields no output row — pinned by
    running both scorers on a model trained on a different corpus
    (ADVICE r7)."""
    from ballcone_spark.operators.lm_quality import (
        bigram_lm_scores_np,
        bigram_model,
    )

    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    # foreign corpus shares ONE bigram ('the cat') with the model;
    # doc 11 is half-OOV, doc 12 fully OOV
    foreign = spark.createDataFrame(
        [(11, "the cat flew"), (12, "zig zag zog")],
        "doc_id long, text string",
    )
    model = {r["g"]: r["logp"] for r in bigram_model(train).collect()}
    import ballcone_spark.operators.lm_quality as lmq

    orig = lmq.bigram_model
    # score `foreign` under the model trained on `train`
    lmq.bigram_model = lambda docs, text_col="text", vectorized=False: orig(
        train, "text"
    )
    try:
        rows = {r["doc_id"]: r for r in bigram_lm_scores_np(foreign).collect()}
    finally:
        lmq.bigram_model = orig
    assert set(rows) == {11}  # all-OOV doc 12 dropped, no crash
    assert rows[11]["n_bigrams"] == 1  # only 'the cat' matched
    assert abs(rows[11]["avg_logp"] - round(model["the cat"], 4)) < 1e-9


def test_gram_rows_np_matches_jvm(spark):
    """The Arrow gram-row kernel must emit the identical (doc_id, pos,
    g) row set as the JVM posexplode+lead assembly — empty tokens,
    duplicates and positions included — for both the LM bigrams and the
    boilerplate 5-grams."""
    from ballcone_spark.operators.lm_quality import _gram_rows, _gram_rows_np

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, "a  b"), (90002, None), (90003, ""), (90004, " x y "),
         (90005, "p q r s t u v")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"),
             F.lit("edge").alias("source"), F.lit(0).alias("n_chars"))
    docs = docs.unionByName(edge)
    for n in (2, 5):
        jvm = sorted(
            tuple(r) for r in _gram_rows(docs, "text", n).collect()
        )
        arw = sorted(
            tuple(r) for r in _gram_rows_np(docs, "text", n).collect()
        )
        assert jvm == arw and len(arw) > 0, n


def test_shingle_rows_np_matches_jvm_multiset(spark):
    """The Arrow gram-row kernel must emit the same (doc_id, s)
    MULTISET as shingle_rows(distinct=False) — duplicates and gram
    strings included; only row order may differ."""
    from collections import Counter

    from ballcone_spark.functions.text import shingle_rows
    from ballcone_spark.operators.dedup import shingle_rows_np

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, "a b"), (90002, None), (90003, "x y x y x"),
         (90004, "\tp  q\x0br s")],
        "doc_id long, text string",
    ).select("doc_id", "text", F.lit("en").alias("lang"),
             F.lit("edge").alias("source"), F.lit(0).alias("n_chars"))
    docs = docs.unionByName(edge)
    jvm = Counter(
        (r["doc_id"], r["s"])
        for r in shingle_rows(docs, n=8, distinct=False).collect()
    )
    arw = Counter(
        (r["doc_id"], r["s"]) for r in shingle_rows_np(docs, n=8).collect()
    )
    assert jvm == arw and len(arw) > 0


def test_repetition_kernel_fuzz_parity(spark, tmp_path):
    """Seeded fuzz for the repetition kernel against the DuckDB oracle
    over the same whitespace boundary atoms as the token-stats fuzz
    (split semantics are the whole parity surface here: the oracle's
    space-joined gram strings vs the kernel's token tuples can only
    diverge if tokenization does)."""
    import random

    rng = random.Random(777)
    atoms = [
        "spam ham", "w", "9", "a b a b", "é", "x\xa0y", "", " ",
        "\t", "\x0b", "q r s", "spam",
    ]
    rows = [
        (i, " ".join(rng.choice(atoms) for _ in range(rng.randint(0, 9))))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(str(tmp_path / "documents.parquet"))
    n = _assert_matches_oracle(
        spark, "docs_repetition_flags_vectorized", str(tmp_path)
    )
    assert n > 50


def test_temperature_sample_upweights_small_sources(spark):
    """α=0.5 targets: a 25×-smaller source gets far more than its
    proportional share, every source ≥ 1 doc, targets match the
    fixed-point arithmetic exactly, and the sample is deterministic."""
    from ballcone_spark.operators.sampling import temperature_sample

    rows = [(f"d{i}", "big") for i in range(100)] + [
        (f"s{i}", "small") for i in range(4)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"]).select(
        "doc_id", "source", F.lit("x y z").alias("text")
    )
    out = temperature_sample(df, 20)
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # num_big = floor(10*1e6) = 10e6, num_small = floor(2*1e6) = 2e6,
    # denom 12e6 → targets floor(20*10/12)=16, floor(20*2/12)=3
    assert counts == {"big": 16, "small": 3}
    # proportional share for `small` would be 20·4/104 < 1 doc
    first = sorted(tuple(r) for r in out.collect())
    second = sorted(tuple(r) for r in temperature_sample(df, 20).collect())
    assert first == second


def test_write_packed_shards_balanced_and_reconstructable(spark, tmp_path):
    """Shards on disk must carry exactly blocks_per_shard·seq_len
    tokens (final shard less), and concatenating a block's slices in
    (block_id, doc_tok_start) order must reproduce the packed token
    stream — the reader never needs the source corpus."""
    from ballcone_spark.operators.packing import write_packed_shards
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    seq_len, bps = 128, 4
    out = write_packed_shards(docs, str(tmp_path / "shards"), seq_len, bps)

    rows = out.collect()
    tok = lambda r: len(r["text_slice"].split(" "))  # noqa: E731
    by_shard: dict[int, int] = {}
    for r in rows:
        by_shard[r["shard_id"]] = by_shard.get(r["shard_id"], 0) + tok(r)
    last = max(by_shard)
    assert set(by_shard) == set(range(last + 1))
    for s, n in by_shard.items():
        if s < last:
            assert n == seq_len * bps, (s, n)
    assert 0 < by_shard[last] <= seq_len * bps

    # block-level reconstruction: every non-final block is exactly
    # seq_len tokens when its slices concatenate in order
    by_block: dict[int, list] = {}
    for r in rows:
        by_block.setdefault(r["block_id"], []).append(r)
    last_b = max(by_block)
    for b, parts in by_block.items():
        parts.sort(key=lambda r: r["doc_tok_start"])
        n = sum(tok(r) for r in parts)
        assert n == seq_len or b == last_b

    # doc-level conservation: each doc's slices reassemble its text
    source = {r["doc_id"]: r["text"] for r in docs.collect()}
    per_doc: dict = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, parts in per_doc.items():
        parts.sort(key=lambda r: r["doc_tok_start"])
        joined = " ".join(p["text_slice"] for p in parts)
        assert joined == source[doc_id], doc_id


# --------------------------------------------------------------------- #
# LM quality / boilerplate spans / SemDeDup (operators/lm_quality.py,   #
# operators/semantic_dedup.py)                                          #
# --------------------------------------------------------------------- #


def test_bigram_lm_scores_rank_common_above_rare(spark):
    """A doc made of the corpus's dominant transitions must score a
    higher mean log-prob (lower perplexity) than one made of
    transitions seen nowhere else."""
    from ballcone_spark.operators.lm_quality import bigram_lm_scores

    common = "a b " * 20 + "a b"      # transition (a,b) dominates
    rare = "q r s t u v w x y z"      # every transition unique
    docs = spark.createDataFrame(
        [(0, common), (1, common), (2, rare)], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    assert rows[0]["avg_logp"] > rows[2]["avg_logp"]
    assert rows[0]["ppl"] < rows[2]["ppl"]
    # perplexity inverts the mean log-prob by definition
    import math

    assert rows[2]["ppl"] == pytest.approx(
        math.exp(-rows[2]["avg_logp"]), rel=1e-3
    )


def test_boilerplate_spans_planted_shared_span(spark):
    """Exactly the tokens inside the cross-doc shared 5-gram count as
    covered; a doc with no shared span reports 0."""
    from ballcone_spark.operators.lm_quality import boilerplate_spans

    shared = "alpha beta gamma delta epsilon"  # the planted span
    docs = spark.createDataFrame(
        [
            (0, shared + " zeta eta theta"),       # span at pos 0: 5/8 covered
            (1, "iota kappa " + shared),           # span at pos 2: 5/7 covered
            (2, "mu nu xi omicron pi rho sigma"),  # nothing shared
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in boilerplate_spans(docs).collect()}
    assert rows[0]["covered_tokens"] == 5 and rows[0]["n_tokens"] == 8
    assert rows[1]["covered_tokens"] == 5 and rows[1]["n_tokens"] == 7
    assert rows[2]["covered_tokens"] == 0 and not rows[2]["boilerplate"]
    assert rows[0]["boilerplate"] and rows[1]["boilerplate"]  # > 30%


def test_semantic_dedup_removes_planted_near_dup(spark):
    """A vector nearly identical to a lower-id one in the same cluster
    is removed; orthogonal vectors survive."""
    from ballcone_spark.operators.semantic_dedup import semantic_dedup_report

    dim = 8

    def unit(axis):
        return [1.0 if d == axis else 0.0 for d in range(dim)]

    near = [0.99 if d == 0 else (0.01 if d == 1 else 0.0) for d in range(dim)]
    rows = [
        (0, unit(0)),   # seed 0 (cluster 0)
        (1, unit(1)),   # seed 1
        (2, unit(2)),   # seed 2
        (3, unit(3)),   # seed 3
        (4, unit(4)),   # seed 4
        (5, unit(5)),   # seed 5
        (6, unit(6)),   # seed 6
        (7, unit(7)),   # seed 7
        (100, near),    # cluster 0, cos≈1 vs vec 0 → removed
        (101, [-x for x in unit(1)]),  # anti-aligned: lands somewhere, no dup
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "e"])
    rep = {r["cluster_id"]: r for r in semantic_dedup_report(emb).collect()}
    assert rep[0]["n_removed"] == 1 and rep[0]["removed_checksum"] == 100
    assert rep[0]["n_kept"] == rep[0]["n_vecs"] - 1
    assert sum(r["n_removed"] for r in rep.values()) == 1


# --------------------------------------------------------------------- #
# BPE tokenizer training (operators/bpe.py)                             #
# --------------------------------------------------------------------- #


def _bpe_reference(word_freqs: dict, n_merges: int):
    """Independent pure-Python BPE trainer with the same tie-break
    (freq desc, then pair lexicographic) — the training oracle."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(n_merges):
        counts: dict = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, a + b, c))
        for w in syms:
            s, out = syms[w], []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[w] = out
    return merges, syms


def test_bpe_training_matches_python_reference(spark):
    """The distributed trainer must learn the IDENTICAL merge list (and
    identical per-word tokenizations) as the sequential reference on the
    real sf0.001 corpus."""
    from ballcone_spark.operators.bpe import train_bpe, word_freqs
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    wf = word_freqs(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}

    n = 12
    merges, encoded = train_bpe(wf, n)
    ref_merges, ref_syms = _bpe_reference(freqs, n)
    assert merges == ref_merges

    got = {r["word"]: r["syms"] for r in encoded.collect()}
    assert got == ref_syms

    # conservation: every word's symbols concatenate back to the word
    for w, s in got.items():
        assert "".join(s) == w


def test_bpe_merge_fold_greedy_left_to_right(spark):
    """The codegen fold applies a merge exactly like greedy
    left-to-right BPE, including overlapping-pair runs."""
    from ballcone_spark.operators.bpe import _merge_fold

    df = spark.createDataFrame(
        [(list("aaaa"),), (list("abab"),), (list("aab"),)], ["syms"]
    )
    out = [
        r["m"]
        for r in df.select(
            _merge_fold(F.col("syms"), "a", "a", "aa").alias("m")
        ).collect()
    ]
    assert out == [["aa", "aa"], ["a", "b", "a", "b"], ["aa", "b"]]


def test_bpe_compression_monotone(spark):
    """More merges never increase the corpus token count, and any
    useful merge strictly decreases it."""
    from ballcone_spark.operators.bpe import (
        bpe_corpus_stats,
        train_bpe,
        word_freqs,
    )
    from ballcone_spark.queries import load_table

    wf = word_freqs(load_table(spark, SF, "documents"))
    _, enc4 = train_bpe(wf, 4)
    _, enc12 = train_bpe(wf, 12)
    s4 = bpe_corpus_stats(wf, enc4)
    s12 = bpe_corpus_stats(wf, enc12)
    assert s4["chars"] == s12["chars"]
    assert s12["tokens"] < s4["tokens"] <= s4["chars"]


def test_semantic_dedup_adaptive_k_bounds_pairing():
    """adaptive_k pins the mean cluster size: fixed K would make the
    within-cluster pair stage quadratic in corpus size."""
    from ballcone_spark.operators.semantic_dedup import (
        K_SEEDS,
        TARGET_CLUSTER,
        adaptive_k,
    )

    assert adaptive_k(500) == K_SEEDS       # sf0.01: oracle-exact
    assert adaptive_k(2000) == K_SEEDS      # sf0.1: oracle-exact
    assert adaptive_k(2048) == K_SEEDS      # boundary of the exact domain
    for n in (20_000, 1_000_000, 50_000_000):
        k = adaptive_k(n)
        assert n / k <= TARGET_CLUSTER      # mean cluster bounded
        # pair work per vector stays O(TARGET), i.e. total stays linear
        assert (n / k) * n <= TARGET_CLUSTER * n


def test_semantic_dedup_vectorized_matches_jvm(spark):
    """The Arrow/numpy kernels (routing matmul + per-cluster gram
    matrix) must produce the IDENTICAL report as the pure-JVM
    expression formulation — argmax tie-break included."""
    from ballcone_spark.operators.semantic_dedup import semantic_dedup_report
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    vec = sorted(tuple(r) for r in semantic_dedup_report(emb, 8, vectorized=True).collect())
    jvm = sorted(tuple(r) for r in semantic_dedup_report(emb, 8, vectorized=False).collect())
    assert vec == jvm and len(vec) > 0


def test_semantic_dedup_trained_composition(spark):
    """kmeans → SemDeDup: the trained path returns exactly k clusters
    partitioning the corpus, and still removes the planted-style
    near-dups the seeded twin finds (trained centroids can only
    tighten clusters, never lose a within-cluster dup pair entirely
    on this corpus)."""
    from ballcone_spark.operators.semantic_dedup import (
        semantic_dedup_report,
        semantic_dedup_trained,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    rep = semantic_dedup_trained(spark, emb, k=8, iters=2).collect()
    assert len(rep) == 8
    assert sum(r["n_vecs"] for r in rep) == emb.count()
    seeded_removed = sum(
        r["n_removed"]
        for r in semantic_dedup_report(emb, 8, vectorized=True).collect()
    )
    trained_removed = sum(r["n_removed"] for r in rep)
    assert trained_removed >= seeded_removed > 0


def test_semantic_dedup_keep_complements_report(spark):
    """keep-list ∪ removed == corpus, keep-list ∩ removed == ∅, and the
    per-cluster survivor counts equal the report's n_kept."""
    from ballcone_spark.operators.semantic_dedup import (
        semantic_dedup_keep,
        semantic_dedup_report,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    kept = semantic_dedup_keep(emb, 8)
    rep = {r["cluster_id"]: r for r in semantic_dedup_report(emb, 8).collect()}
    by_cluster = {
        r["cluster_id"]: r["n"]
        for r in kept.groupBy("cluster_id").agg(F.count("*").alias("n")).collect()
    }
    assert sum(by_cluster.values()) == emb.count() - sum(
        r["n_removed"] for r in rep.values()
    )
    for cid, n in by_cluster.items():
        assert n == rep[cid]["n_kept"], cid


def test_bigram_lm_ppl_bounds(spark):
    """Perplexity under a smoothed LM is > 1 for every doc (probabilities
    are strictly < 1 under add-one smoothing) and finite."""
    from ballcone_spark.operators.lm_quality import bigram_lm_scores
    from ballcone_spark.queries import load_table

    rows = bigram_lm_scores(load_table(spark, SF, "documents")).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["ppl"] > 1.0 and r["avg_logp"] < 0.0
        assert r["n_bigrams"] >= 1


def test_boilerplate_coverage_bounds(spark):
    """Covered fraction lies in [0, 1] for every doc, and covered_tokens
    never exceeds n_tokens."""
    from ballcone_spark.operators.lm_quality import boilerplate_spans
    from ballcone_spark.queries import load_table

    rows = boilerplate_spans(load_table(spark, SF, "documents")).collect()
    assert any(r["covered_tokens"] > 0 for r in rows)  # non-vacuous corpus
    for r in rows:
        assert 0 <= r["covered_tokens"] <= r["n_tokens"]
        assert 0.0 <= r["covered_frac"] <= 1.0


def test_ivf_ann_np_matches_jvm(spark):
    """The fused Arrow route+score IVF must return the identical top-k
    rows as the JVM argmax-fold path for the same label centroids —
    routing ties (np.argmax first-max vs max(struct(sim, -cell_id)))
    and the rank tail included."""
    from ballcone_spark.operators.embedding_dedup import (
        _label_centroids,
        ivf_ann,
        ivf_ann_np,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents = _label_centroids(emb)
    q = emb.where(F.col("vec_id") < 5)
    jvm = [tuple(r) for r in ivf_ann(emb, q, cents, 5).collect()]
    arrow = [tuple(r) for r in ivf_ann_np(emb, q, cents, 5).collect()]
    assert arrow == jvm and len(arrow) > 0


def test_ivf_pq_ann_np_matches_jvm_composition(spark):
    """The Arrow IVF-PQ must return the identical top-k as the JVM
    composition for the same centroids and codebooks (cell routing,
    compressed-domain ranking, exact rerank all included)."""
    from ballcone_spark.operators.kmeans import train_ivf_codebook
    from ballcone_spark.operators.quantization import (
        ivf_pq_ann,
        ivf_pq_ann_np,
        train_pq_codebooks,
    )
    from ballcone_spark.queries import load_table

    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    cents_df = train_ivf_codebook(spark, emb, k=4, iters=1)
    cents = [
        (r["cell_id"], [float(x) for x in r["centroid"]])
        for r in cents_df.collect()
    ]
    books = train_pq_codebooks(spark, emb, m=8, k=16, iters=0)
    q = emb.where(F.col("vec_id") < 3)

    jvm = [
        tuple(r)
        for r in ivf_pq_ann(spark, emb, q, cents_df, books, k=5).collect()
    ]
    arrow = [
        tuple(r) for r in ivf_pq_ann_np(emb, q, cents, books, k=5).collect()
    ]
    assert arrow == jvm and len(arrow) > 0


def test_chunk_documents_null_text_emits_no_rows(spark):
    """NULL text must follow the repo-wide 'NULL text -> no rows'
    convention (ADVICE r8): without the guard, size(NULL)=NULL slips
    through greatest/least and emits a phantom (chunk_id=0,
    n_tokens=128, fp=md5('')) chunk that the DuckDB oracle (unnest of
    NULL -> nothing) never produces."""
    from ballcone_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    got = chunk_documents(docs).collect()
    assert [r["doc_id"] for r in got] == [2]
    assert got[0]["n_tokens"] == 3


def test_anomaly_zscore_zero_variance_cross_engine(spark):
    """With a constant daily count the trailing variance is exactly 0
    (integer sums are exact in doubles); an unguarded x/0 diverges
    cross-engine (Spark non-ANSI NULL vs DuckDB IEEE NaN/inf). The
    guarded query must emit NULL z_score and FALSE is_anomaly on BOTH
    engines, identically (ADVICE r8)."""
    import datetime

    import duckdb
    import pandas as pd

    from ballcone_spark.queries import EXTRA_QUERIES

    sql = EXTRA_QUERIES["events_anomaly_zscore"].oracle
    ts = [
        datetime.datetime(2024, 3, 1 + d, 10, 0, 0)
        for d in range(12)
        for _ in range(3)  # constant 3 visits/day -> variance 0
    ]
    spark.createDataFrame(
        [(t,) for t in ts], "ts timestamp"
    ).createOrReplaceTempView("events")
    got = [tuple(r) for r in spark.sql(sql).collect()]
    spark.catalog.dropTempView("events")

    con = duckdb.connect()
    con.register("events", pd.DataFrame({"ts": ts}))
    want = [tuple(r) for r in con.execute(sql).fetchall()]

    assert len(got) == 12 - 3  # n_prior >= 3 warmup excluded
    # columns: date, visits, trailing_mean, z_score, is_anomaly
    assert all(r[3] is None and r[4] is False for r in got)
    assert got == want


def test_span_budget_cte_single_row_with_literal(spark):
    """The budget CTE must be single-row even when a plain literal is
    injected (ADVICE r8): a bare 'FROM documents' makes
    '(SELECT b FROM budget)' a one-row-per-document scalar subquery —
    tolerated by DuckDB 1.0.0, rejected by versions enforcing
    single-row scalar subqueries. Pin the shape relationally: the CTE
    yields exactly one row for a multi-doc corpus."""
    import duckdb
    import pandas as pd

    from ballcone_spark.operators.span_dedup import _span_cte

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b", "c d", "e f"]}),
    )
    cte = _span_cte("50")
    n = con.execute(
        f"WITH {cte} SELECT count(*) FROM budget"
    ).fetchone()[0]
    assert n == 1
    # and the production formula's `n` binds to the corpus doc count
    prod = _span_cte("100 * n")
    assert con.execute(
        f"WITH {prod} SELECT b FROM budget"
    ).fetchone()[0] == 300


def test_exact_span_budget_binding_recall_gate(spark):
    """Measured recall envelope for the span family's BINDING budget
    (VERDICT r8 #4; the jaccard family has the analogous gate). The
    documented narrowing: with no sketch fallback possible (a sketch
    can't locate span positions), a binding budget keeps exactly the
    spans containing ≥ 1 sub-cut gram. Planted spans built from
    pair-unique vocabulary have df=2 on every gram, so they survive
    ANY cut ≥ 2 — the envelope floor is 100% for distinctive spans.
    The corpus background is phrase-recycled (high-df grams) so the
    budget genuinely binds; a second run with a sub-df-2 budget shows
    recall collapse, proving the floor is non-vacuous and the gate
    separates."""
    import random

    from ballcone_spark.operators.dedup import adaptive_df_cut
    from ballcone_spark.operators.span_dedup import (
        SPAN_MAX_DF,
        _gram_rows,
        exact_span_pairs,
    )

    rng = random.Random(20260815)
    # saturated background: every doc is 4 phrases from a 30-phrase
    # pool, so phrase-internal 8-grams recur across docs (df ~ 40)
    pool = [
        [f"c{p}_{j}" for j in range(10)] for p in range(30)
    ]
    rows, did = [], 0
    for _ in range(300):
        toks = sum((pool[rng.randrange(30)] for _ in range(4)), [])
        rows.append((did, " ".join(toks)))
        did += 1
    planted = []
    for pair in range(40):  # distinctive 24-token span, df=2 grams
        span = [f"p{pair}_{j}" for j in range(24)]
        fill_a = pool[rng.randrange(30)]
        fill_b = pool[rng.randrange(30)]
        rows.append((did, " ".join(fill_a + span)))
        rows.append((did + 1, " ".join(span + fill_b)))
        planted.append((did, did + 1))
        did += 2
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    budget = 5_000
    # the budget must BIND on this corpus, and the cut must stay ≥ 2
    # (the regime where distinctive spans mathematically survive)
    g = _gram_rows(docs, "text", 8).select(
        F.xxhash64("g").alias("s")
    )
    cut, collapsed = adaptive_df_cut(g, SPAN_MAX_DF, budget)
    assert collapsed, "corpus no longer makes the budget bind"
    assert cut >= 2, "budget too small for the distinctive-span regime"

    found = {
        (r["a_id"], r["b_id"])
        for r in exact_span_pairs(docs, pair_budget=budget).collect()
    }
    recall = len(found & set(planted)) / len(planted)
    # deterministic 40/40 on this seed: every planted gram has df=2 ≤ cut
    assert recall >= 0.975, f"distinctive-span recall {recall:.3f}"

    # separation: a budget below even the df=2 pair mass collapses the
    # cut to 1 and recall to ~0 — the envelope floor is not vacuous
    found_tiny = {
        (r["a_id"], r["b_id"])
        for r in exact_span_pairs(docs, pair_budget=100).collect()
    }
    tiny_recall = len(found_tiny & set(planted)) / len(planted)
    assert tiny_recall <= 0.05, f"sub-df2 budget should collapse: {tiny_recall}"


def test_chunk_semantic_pairs_properties(spark):
    """The chunk-level SemDeDup closure must (a) pair chunks that
    differ by a small edit (the near-dup a verbatim fp-groupBy can't
    see), (b) not pair unrelated chunks, and (c) embed once per
    DISTINCT fp — duplicate instances are collapsed before the
    embedder, which is the 'skip re-embedding' contract."""
    from ballcone_spark.operators.packing import (
        chunk_embeddings,
        chunk_semantic_pairs,
    )

    base = [f"tok{i}" for i in range(60)]
    edited = list(base)
    edited[7] = "EDIT"  # 1-token edit in a 60-token chunk
    unrelated = [f"zzz{i}" for i in range(60)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(edited)),
        (3, " ".join(unrelated)),
        (4, " ".join(base)),  # verbatim dup of doc 1 -> same fp
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    emb = chunk_embeddings(docs).collect()
    assert len(emb) == 3  # 4 chunk instances, 3 distinct fps

    pairs = chunk_semantic_pairs(docs).collect()
    assert len(pairs) == 1  # base~edited only; unrelated stays out
    assert pairs[0]["cos"] >= 0.9


def test_chunk_semantic_pairs_rejects_malformed_chunks_frame(spark):
    """r14 (ADVICE r13 #4): with chunks= the window/stride/text_col
    args are documented-unused — the prebuilt frame fixes the
    geometry. A frame that is NOT a with_tokens=True chunker output
    (missing chunk_toks/chunk_fp) must raise instead of silently
    producing geometry-mismatched pairs; a well-formed prebuilt frame
    gives identical results to the internal chunker."""
    import pytest as _pytest

    from ballcone_spark.operators.packing import (
        chunk_alias_map,
        chunk_documents,
        chunk_semantic_pairs,
    )

    base = [f"tok{i}" for i in range(60)]
    edited = list(base)
    edited[7] = "EDIT"
    docs = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(edited))],
        "doc_id long, text string",
    )
    bad = chunk_documents(docs)  # with_tokens=False: no chunk_toks
    with _pytest.raises(ValueError, match="chunk_toks"):
        chunk_semantic_pairs(docs, chunks=bad)
    with _pytest.raises(ValueError, match="with_tokens"):
        chunk_alias_map(docs, chunks=bad)
    good = chunk_documents(docs, with_tokens=True)
    assert sorted(
        tuple(r) for r in chunk_semantic_pairs(docs, chunks=good).collect()
    ) == sorted(tuple(r) for r in chunk_semantic_pairs(docs).collect())


def test_chunk_semantic_skipped_embeddings_cross_check(spark):
    """dup_chunk_instances (docs_chunk_dedup_stats) must equal chunk
    instances minus distinct embeddings — the two queries' contracts
    meet at 'every duplicate instance is one skipped embedding'."""
    from ballcone_spark.operators.packing import (
        chunk_documents,
        chunk_embeddings,
    )
    from ballcone_spark.queries import EXTRA_QUERIES, load_table

    SF = "/root/testdata/sf0.01"
    docs = load_table(spark, SF, "documents")
    n_instances = chunk_documents(docs).count()
    n_embedded = chunk_embeddings(docs).count()
    stats = EXTRA_QUERIES["docs_chunk_dedup_stats"].fn(spark, SF).collect()
    dup_instances = sum(r["dup_chunk_instances"] for r in stats)
    assert n_instances - n_embedded == dup_instances


def test_span_deduped_corpus_conservation_and_keep_first(spark):
    """The Lee et al. deletion transform must: keep the FIRST (lower
    doc_id) occurrence verbatim, delete the covered tokens from the
    later doc, union overlapping deletion intervals (not double-
    delete), empty out a fully-covered doc, leave untouched docs
    byte-identical — and conserve tokens: kept = n − removed, with
    the rewritten text's own token count agreeing."""
    from ballcone_spark.operators.span_dedup import span_deduped_corpus

    v = [f"s{i}" for i in range(40)]  # shared span vocabulary
    fill = lambda p, n: [f"{p}{i}" for i in range(n)]  # noqa: E731
    rows = [
        # doc 0: keeper of span v[0:25]
        (0, " ".join(fill("a", 3) + v[0:25] + fill("b", 3))),
        # doc 1: later copy of v[0:25] -> loses it
        (1, " ".join(fill("c", 4) + v[0:25] + fill("d", 4))),
        # doc 2: overlapping spans vs docs 0 and 1: v[0:25] (from doc
        # 0/1) and v[10:35] (vs doc 3 below? no — make both vs doc 0)
        (2, " ".join(fill("e", 2) + v[0:35] + fill("f", 2))),
        # doc 3: fully covered — its whole text is v[0:25], already in
        # docs 0,1,2
        (3, " ".join(v[0:25])),
        # doc 4: untouched
        (4, " ".join(fill("z", 30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in span_deduped_corpus(docs).collect()}
    texts = dict(rows)

    assert set(out) == {0, 1, 2, 3, 4}
    # keep-first: doc 0 byte-identical
    assert out[0]["new_text"] == texts[0] and out[0]["removed_tokens"] == 0
    # doc 1 loses exactly the 25 span tokens
    assert out[1]["removed_tokens"] == 25
    assert out[1]["new_text"] == " ".join(fill("c", 4) + fill("d", 4))
    # doc 2: v[0:35] all covered (v[0:25] shared with 0 and 1, and
    # v[0:35]'s tail overlaps doc 2↔ other spans via v slices) — at
    # minimum the union of its qualifying intervals is removed once,
    # never double-counted
    assert out[2]["removed_tokens"] <= 35
    assert (
        out[2]["kept_tokens"]
        == out[2]["n_tokens"] - out[2]["removed_tokens"]
    )
    # doc 3 fully covered -> empty rewrite
    assert out[3]["removed_tokens"] == 25 and out[3]["new_text"] == ""
    # doc 4 untouched
    assert out[4]["new_text"] == texts[4] and out[4]["removed_tokens"] == 0
    # conservation: rewritten token count == kept_tokens for every doc
    for d, r in out.items():
        n_txt = len(r["new_text"].split(" ")) if r["new_text"] else 0
        assert n_txt == r["kept_tokens"], (d, r)
        assert r["kept_tokens"] == r["n_tokens"] - r["removed_tokens"]

def test_dedup_keep_best_prefers_quality_over_first(spark):
    """Quality-aware representative selection: in a cluster where the
    SMALLEST id is the WORST copy, keep-best must pick the richest doc
    (keep-first would discard it); exact ties fall back to the smallest
    doc_id; dropped_id_sum accounts for every non-kept member."""
    from ballcone_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        # cluster 1: ids 1,2,3 — scores 5, 9, 9 (tie between 2 and 3)
        # cluster 10: ids 10,11 — score 7, 4 (first is also best)
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 7), (11, 4)],
        "doc_id long, score long",
    )
    rows = {
        r["cluster_id"]: r for r in dedup_keep_best(clusters, scores).collect()
    }
    c1, c10 = rows[1], rows[10]
    assert c1["kept_doc_id"] == 2          # best score, tie -> min id
    assert c1["kept_score"] == 9
    assert c1["cluster_size"] == 3
    assert c1["dropped_id_sum"] == 1 + 3
    assert c10["kept_doc_id"] == 10        # keep-first agrees here
    assert c10["dropped_id_sum"] == 11

def test_bpe_encode_docs_matches_python_apply(spark):
    """The corpus re-encode (the APPLY half: word-keyed join against
    the trained word table) must reproduce, per document, the exact
    token count AND the md5 of the exact token stream that a pure-
    Python train+apply computes on the same corpus."""
    import hashlib

    from ballcone_spark.operators.bpe import (
        encode_docs,
        train_bpe,
        word_freqs,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    wf = word_freqs(docs)
    freqs = {r["word"]: r["freq"] for r in wf.collect()}
    n = 12
    merges, encoded = train_bpe(wf, n)
    _, ref_syms = _bpe_reference(freqs, n)

    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"], r["token_fp"])
        for r in encode_docs(docs, encoded, merges).collect()
    }
    checked = 0
    for row in docs.select("doc_id", "text").collect():
        if row["text"] is None:
            assert row["doc_id"] not in got
            continue
        words = [w for w in row["text"].split(" ") if w != ""]
        stream = " ".join("+".join(ref_syms[w]) for w in words)
        fp = hashlib.md5(stream.encode()).hexdigest()
        n_toks = sum(len(ref_syms[w]) for w in words)
        assert got[row["doc_id"]] == (len(words), n_toks, fp)
        checked += 1
    assert checked > 0 and len(got) == checked

    # OOV path: encode a corpus the vocab was NOT trained on — unseen
    # words must take the exact char-split + ordered-greedy-fold apply
    # rule (never a silent drop), seen words the table fast path
    def apply_merges(word):
        s = list(word)
        for _, a, b, _ab, _c in merges:
            out = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            s = out
        return s

    seen = next(iter(ref_syms))
    new_docs = spark.createDataFrame(
        [(100, f"{seen} zzzunseen {seen} qqq")], "doc_id long, text string"
    )
    row = encode_docs(new_docs, encoded, merges).first()
    ws = [seen, "zzzunseen", seen, "qqq"]
    syms_of = lambda w: ref_syms[w] if w in ref_syms else apply_merges(w)  # noqa: E731
    stream = " ".join("+".join(syms_of(w)) for w in ws)
    assert row["n_words"] == 4
    assert row["n_bpe_tokens"] == sum(len(syms_of(w)) for w in ws)
    assert row["token_fp"] == hashlib.md5(stream.encode()).hexdigest()

def test_curation_keep_best_composition(spark):
    """Filter → cluster → keep-BEST, on a planted construction where
    every stage's decision is visible in the report: a near-dup pair
    whose HIGHER-quality copy has the LARGER id (keep-first would keep
    the worse one), a below-gate duplicate that must be excluded by the
    filter-first order (neither kept nor dropped), and an unrelated
    passing doc."""
    from ballcone_spark.operators.dedup import curation_keep_best

    base_words = [f"tok{i:02d}" for i in range(30)]
    base = " ".join(base_words)                    # 30 distinct tokens
    better = base + " tok99"                       # near-dup, +1 distinct
    other = " ".join(f"zzz{i:02d}" for i in range(25))
    rows = [
        # worse copy, smaller id — keep-first would keep THIS one
        (5, "s", "en", base, len(base)),
        # better copy (31 distinct tokens), larger id — keep-best keeps it
        (9, "s", "en", better, len(better)),
        # duplicate of base but FAILS the gate (n_chars < 100): the
        # filter-first order must exclude it from clustering entirely
        (7, "s", "en", base, 50),
        (12, "s", "en", other, len(other)),        # unrelated, passing
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, source string, lang string, text string, n_chars long"
    )
    rep = {
        (r["source"], r["lang"]): r for r in curation_keep_best(docs).collect()
    }
    r = rep[("s", "en")]
    # passing = {5, 9, 12}; cluster {5, 9} keeps 9 (score 31 > 30)
    assert r["kept_docs"] == 2
    assert r["dropped_dup_docs"] == 1
    assert r["kept_tokens"] == 31 + 25

def test_quality_classifier_matches_numpy_gd(spark):
    """The distributed trainer must produce the same weights as an
    identical full-batch GD replayed in numpy from the collected
    (X, y) — summation order is the only difference, so the match is
    float-tolerance, not approximate-behavior."""
    import numpy as np

    from ballcone_spark.operators.quality_classifier import (
        FEATURES,
        LR,
        N_ITERS,
        quality_features,
        train_quality_classifier,
    )
    from ballcone_spark.queries import load_table

    feats = quality_features(load_table(spark, SF, "documents"))
    rows = feats.select("label", *FEATURES).collect()
    y = np.array([r["label"] for r in rows])
    X = np.hstack(
        [
            np.ones((len(rows), 1)),
            np.array([[r[c] for c in FEATURES] for r in rows]),
        ]
    )
    assert 0 < y.sum() < len(y)  # both classes present on the corpus

    w_np = np.zeros(X.shape[1])
    for _ in range(N_ITERS):
        p = 1.0 / (1.0 + np.exp(-X @ w_np))
        w_np = w_np - LR * X.T @ (p - y) / len(y)

    w = np.array(train_quality_classifier(feats))
    assert np.allclose(w, w_np, rtol=1e-6, atol=1e-8), (w, w_np)

    # the distillation separates: ordering by score ranks every
    # gate-pass above chance, and loss decreased from the w=0 start
    p0 = np.full(len(y), 0.5)
    loss0 = -np.mean(y * np.log(p0) + (1 - y) * np.log(1 - p0))
    p1 = 1.0 / (1.0 + np.exp(-X @ w))
    loss1 = -np.mean(
        y * np.log(np.clip(p1, 1e-12, 1))
        + (1 - y) * np.log(np.clip(1 - p1, 1e-12, 1))
    )
    assert loss1 < loss0
    assert p1[y == 1].mean() > p1[y == 0].mean() + 0.05


def test_quality_classifier_report_calibrates(spark):
    """The decile report must place gate-pass mass above gate-fail
    mass (weighted mean decile strictly higher) and conserve both
    totals against the feature frame."""
    from ballcone_spark.operators.quality_classifier import (
        quality_classifier_report,
        quality_features,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    rep = quality_classifier_report(docs).collect()
    feats = quality_features(docs)
    n_total = feats.count()
    n_pass = feats.where("label = 1.0").count()
    assert sum(r["n_docs"] for r in rep) == n_total
    assert sum(r["n_gate_pass"] for r in rep) == n_pass
    pass_mean = sum(r["score_decile"] * r["n_gate_pass"] for r in rep) / n_pass
    fail_mean = sum(
        r["score_decile"] * (r["n_docs"] - r["n_gate_pass"]) for r in rep
    ) / (n_total - n_pass)
    assert pass_mean > fail_mean

def test_split_leakage_audit_guarantee(spark):
    """On the real corpus the audit must report a NON-vacuous pair set,
    exactly zero cluster-atomic cross-split pairs (the guarantee), and
    a strictly positive count for the naive per-doc hash split (the bug
    the guarantee exists to prevent)."""
    from ballcone_spark.operators.dedup import split_leakage_audit
    from ballcone_spark.queries import load_table

    row = split_leakage_audit(load_table(spark, SF, "documents")).first()
    assert row["total_pairs"] > 0
    assert row["atomic_cross_split_pairs"] == 0
    assert row["naive_cross_split_pairs"] > 0

def test_corpus_diff_classes_and_token_accounting(spark):
    """Snapshot diff on a planted pair of versions: every change class
    present, token mass accounted per class, whitespace-only edits are
    'unchanged' (fingerprint normalization), NULL text out of scope."""
    from ballcone_spark.operators.corpus_diff import corpus_diff

    old = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # unchanged (modulo spacing)
            (2, "one two three"),           # rewritten in v2
            (3, "gone after v1"),           # removed
            (4, None),                      # NULL text: out of scope
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "  alpha   beta  gamma "),  # whitespace-only edit
            (2, "one two three four"),
            (5, "brand new doc"),           # added
        ],
        "doc_id long, text string",
    )
    got = {r["change"]: r for r in corpus_diff(old, new).collect()}
    assert set(got) == {"added", "removed", "rewritten", "unchanged"}
    assert (got["unchanged"]["n_docs"], got["unchanged"]["tokens_old"],
            got["unchanged"]["tokens_new"]) == (1, 3, 3)
    assert (got["rewritten"]["tokens_old"], got["rewritten"]["tokens_new"]) == (3, 4)
    assert (got["removed"]["n_docs"], got["removed"]["tokens_new"]) == (1, 0)
    assert (got["added"]["n_docs"], got["added"]["tokens_old"]) == (1, 0)

def test_dedup_keep_best_fuzz_vs_bruteforce(spark):
    """Property fuzz: on random cluster assignments and scores
    (including ties and negative-free long ids), the argmax aggregate
    must match an independent per-cluster Python argmax with the
    (score desc, doc_id asc) rule, plus the id-sum accounting."""
    import random

    from ballcone_spark.operators.dedup import dedup_keep_best

    rng = random.Random(907)
    for trial in range(4):
        n = rng.randint(10, 60)
        cluster_of = {i: rng.randrange(1, 8) for i in range(n)}
        # labels must be min-member ids to mimic dedup_clusters output,
        # but keep_best only needs consistency — use raw labels
        score_of = {i: rng.randrange(0, 6) for i in range(n)}
        clusters = spark.createDataFrame(
            [(i, cluster_of[i]) for i in range(n)],
            "doc_id long, cluster_id long",
        )
        scores = spark.createDataFrame(
            [(i, score_of[i]) for i in range(n)],
            "doc_id long, score long",
        )
        got = {
            r["cluster_id"]: (
                r["cluster_size"],
                r["kept_doc_id"],
                r["kept_score"],
                r["dropped_id_sum"],
            )
            for r in dedup_keep_best(clusters, scores).collect()
        }
        want = {}
        for c in set(cluster_of.values()):
            members = [i for i in range(n) if cluster_of[i] == c]
            kept = min(members, key=lambda i: (-score_of[i], i))
            want[c] = (
                len(members),
                kept,
                score_of[kept],
                sum(members) - kept,
            )
        assert got == want, trial


def test_corpus_diff_fuzz_vs_bruteforce(spark):
    """Property fuzz: random paired snapshots (random drops, adds,
    token edits, whitespace-only edits, NULLs) must match a direct
    Python diff classification and token accounting."""
    import random

    from ballcone_spark.operators.corpus_diff import corpus_diff

    rng = random.Random(41)
    for trial in range(3):
        n = rng.randint(8, 30)
        old, new = {}, {}
        for i in range(n):
            words = [f"w{rng.randrange(5)}" for _ in range(rng.randint(1, 6))]
            t = " ".join(words)
            if rng.random() < 0.1:
                old[i] = None
            else:
                old[i] = t
            r = rng.random()
            if r < 0.2:
                pass                                  # removed
            elif r < 0.4:
                new[i] = (old[i] or "x") + " extra"   # rewritten
            elif r < 0.5 and old[i]:
                new[i] = "  " + old[i].replace(" ", "   ") + " "  # ws-only
            elif old[i] is not None:
                new[i] = old[i]                       # unchanged
        for i in range(n, n + rng.randint(0, 5)):
            new[i] = "brand new " + str(i)            # added

        def norm_fp(t):
            import hashlib
            import re as _re

            return hashlib.md5(
                _re.sub(r"\s+", " ", t.strip().lower()).encode()
            ).hexdigest()

        def toks(t):
            return len([w for w in _split(t)])

        def _split(t):
            import re as _re

            return _re.split(r"\s+", t.strip()) if t.strip() else [""]

        want = {}
        o = {i: t for i, t in old.items() if t is not None}
        nn = {i: t for i, t in new.items() if t is not None}
        for i in set(o) | set(nn):
            if i not in o:
                ch = "added"
            elif i not in nn:
                ch = "removed"
            elif norm_fp(o[i]) != norm_fp(nn[i]):
                ch = "rewritten"
            else:
                ch = "unchanged"
            d = want.setdefault(ch, [0, 0, 0])
            d[0] += 1
            d[1] += toks(o[i]) if i in o else 0
            d[2] += toks(nn[i]) if i in nn else 0

        old_df = spark.createDataFrame(
            list(old.items()), "doc_id long, text string"
        )
        new_df = spark.createDataFrame(
            list(new.items()), "doc_id long, text string"
        )
        got = {
            r["change"]: [r["n_docs"], r["tokens_old"], r["tokens_new"]]
            for r in corpus_diff(old_df, new_df).collect()
        }
        assert got == want, (trial, got, want)

def test_span_family_null_text_convention(spark):
    """NULL-text docs must produce NO per-doc rows from either span
    consumer, on BOTH engines (review finding: the oracle's ws CTE
    scanned all of documents — a NULL-text doc yielded an oracle row
    the Spark side dropped; and coverage's un-filtered Spark base
    emitted size(split(NULL)) = -1). Cross-engine replay on a planted
    corpus WITH a NULL-text doc pins the fix."""
    import duckdb

    from ballcone_spark.operators.span_dedup import (
        _COVERAGE_ORACLE,
        _DEDUPED_CORPUS_ORACLE,
        dup_span_coverage,
        span_deduped_corpus,
    )

    shared = " ".join(f"s{i}" for i in range(24))
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 {shared} a3"),
            (2, f"b1 {shared} b2 b3"),
            (3, "plain unrelated text here"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    cov = dup_span_coverage(docs).collect()
    assert [r["doc_id"] for r in cov] == [1, 2, 3]
    assert all(r["n_tokens"] > 0 for r in cov)
    ded = span_deduped_corpus(docs).collect()
    assert [r["doc_id"] for r in ded] == [1, 2, 3]

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    o_cov = [
        tuple(r) for r in con.execute(_COVERAGE_ORACLE).fetchall()
    ]
    got_cov = [
        tuple(r)
        for r in spark.createDataFrame(cov).orderBy("doc_id").collect()
    ]
    assert got_cov == o_cov
    o_ded = [tuple(r) for r in con.execute(_DEDUPED_CORPUS_ORACLE).fetchall()]
    from pyspark.sql import functions as _F

    got_ded = [
        (r["doc_id"], r["n_tokens"], r["removed_tokens"], r["kept_tokens"], fp)
        for r, fp in zip(
            ded,
            [
                x["f"]
                for x in spark.createDataFrame(ded)
                .orderBy("doc_id")
                .select(_F.md5("new_text").alias("f"))
                .collect()
            ],
        )
    ]
    assert got_ded == o_ded

def test_percentile_filter_keeps_null_source_group(spark):
    """A NULL-source group must survive the bucketed-rank rewrite
    (review finding: the plain ["source", "_bucket"] equi-join dropped
    NULL keys while the oracle's percent_rank kept NULL as a
    partition). Cross-engine replay on a planted corpus with NULL
    sources pins the eqNullSafe fix and the NULLS FIRST ordering."""
    import duckdb

    from ballcone_spark.operators.lm_quality import (
        quality_percentile_filter,
    )
    from ballcone_spark.queries import EXTRA_QUERIES

    rows = []
    for i in range(12):
        src = None if i % 3 == 0 else f"s{i % 2}"
        rows.append((i, f"w{i} " * (i + 3) + "common words here", src))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

    got = [tuple(r) for r in quality_percentile_filter(docs).collect()]
    assert got[0][0] is None          # NULL group present, ordered first
    assert sum(r[1] for r in got) == 12

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    oracle = EXTRA_QUERIES["docs_quality_percentile_filter"].oracle
    want = [tuple(r) for r in con.execute(oracle).fetchall()]
    assert got == want


def test_dedup_keep_best_missing_score_raises(spark):
    """Contract enforcement (ADVICE r9): a cluster member absent from
    the scores frame (or carrying a NULL score) must FAIL the job, not
    silently shrink cluster_size/dropped_id_sum through the old inner
    join; the happy path (every member scored) stays green through the
    same left-join + raise guard."""
    import pytest as _pytest

    from ballcone_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    # doc 3 missing entirely
    scores = spark.createDataFrame(
        [(1, 5), (2, 9)], "doc_id long, score long"
    )
    with _pytest.raises(Exception, match="missing from scores"):
        dedup_keep_best(clusters, scores).collect()

    # NULL score raises too
    scores_null = spark.createDataFrame(
        [(1, 5), (2, 9), (3, None)], "doc_id long, score long"
    )
    with _pytest.raises(Exception, match="missing from scores"):
        dedup_keep_best(clusters, scores_null).collect()

    # complete scores: unchanged semantics
    ok = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9)], "doc_id long, score long"
    )
    row = dedup_keep_best(clusters, ok).collect()[0]
    assert row["kept_doc_id"] == 2 and row["cluster_size"] == 3
    assert row["dropped_id_sum"] == 1 + 3


def test_quality_features_null_nchars_filtered(spark):
    """NULL-convention fix (ADVICE r9): a row with NULL n_chars must be
    excluded from the feature frame entirely — before the fix it
    trained with a NULL f_log_chars (silently skipped by every F.sum
    gradient while still counted in n) and landed in a NULL decile."""
    from ballcone_spark.operators.quality_classifier import (
        FEATURES,
        quality_features,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " * 20, "s", "en", 300),
            (2, "delta " * 50, "s", "en", None),     # NULL n_chars
            (3, None, "s", "en", 120),               # NULL text
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    )
    feats = quality_features(docs)
    rows = feats.collect()
    assert [r["doc_id"] for r in rows] == [1]
    for c in FEATURES + ["label"]:
        assert rows[0][c] is not None


def test_chunk_verify_zero_norm_never_pairs(spark):
    """Zero-norm guard (ADVICE r9): a degenerate chunk embedding with
    ||v|| = 0 makes cos = x/sqrt(0) = NaN, which BOTH engines sort
    above every number — without the norm guard the pair passes
    `cos >= tau` with a non-finite value. Planted verify-stage run:
    the zero-vector chunk emits nothing; the healthy identical pair
    still emits cos = 1.0."""
    from ballcone_spark.operators.packing import _verify_chunk_pairs

    dim = 2
    emb = spark.createDataFrame(
        [("a", 3, 4), ("b", 3, 4), ("z", 0, 0)],
        "chunk_fp string, v0 long, v1 long",
    )
    cand = spark.createDataFrame(
        [("a", "b"), ("a", "z"), ("b", "z")], "a_fp string, b_fp string"
    )
    got = {
        (r["a_fp"], r["b_fp"]): r["cos"]
        for r in _verify_chunk_pairs(cand, emb, dim, tau=0.9).collect()
    }
    assert set(got) == {("a", "b")}
    assert abs(got[("a", "b")] - 1.0) < 1e-12


def test_learned_budget_sample_fills_highest_score_first(spark):
    """Budgeted selection by learned score (VERDICT r9 #5), planted
    construction: weights that rank long-repetitive docs BELOW short-
    diverse ones (positive uniq_ratio weight dominating), a budget that
    fits only the top docs — the fill must take them in score order and
    stop exactly when the next doc would overflow; the pre-prune window
    must plan as WindowGroupLimit (budget frontier, not a whole-source
    sort)."""
    from ballcone_spark.operators.quality_classifier import (
        learned_budget_sample,
    )

    # doc 1: 10 distinct tokens (uniq 1.0); doc 2: 10 tokens all same
    # (uniq 0.1); doc 3: 4 distinct tokens; doc 4: second source
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j", "s1", "en", 19),
            (2, "x x x x x x x x x x", "s1", "en", 19),
            (3, "p q r s", "s1", "en", 7),
            (4, "k l m", "s2", "en", 5),
        ],
        "doc_id long, text string, source string, lang string, n_chars int",
    )
    # score = uniq_ratio only → ranks 1 (1.0) > 3=4 (1.0)... make
    # distinct: weight tokens negatively so shorter+diverse wins
    w = [0.0, -1.0, 10.0, 0.0]  # bias, log_tok, uniq_ratio, log_chars
    out = learned_budget_sample(docs, w, budget=14)
    got = {r["doc_id"]: r for r in out.collect()}
    # s1 scores: doc3 z = -ln(5)+10 = 8.391; doc1 z = -ln(11)+10 = 7.602;
    # doc2 z = -ln(11)+1 = -1.398. Greedy by score: doc3 (4 tok, cum 4),
    # doc1 (10 tok, cum 14 = budget, fits), doc2 (cum 24 > 14, dropped).
    assert set(got) == {1, 3, 4}
    assert got[3]["n_tokens"] == 4 and got[1]["n_tokens"] == 10
    # the winner is the SCORE order, not doc_id order: doc2 (id < 3's
    # competitors' ids in hash order) is out purely on score
    from tests.conftest import window_group_limit_expected

    if window_group_limit_expected(spark):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "WindowGroupLimit" in plan, plan[:2000]


def test_chunk_alias_map_properties(spark):
    """The alias map must be a consistent canonical election over the
    pair graph: every fp that appears in a semantic pair has exactly
    one alias row; canonical_fp is the lexicographic MIN of each
    connected component (transitivity included — a~b, b~c land in one
    group even if a,c never paired directly); canonicals map to
    themselves."""
    from ballcone_spark.operators.packing import (
        chunk_alias_map,
        chunk_semantic_pairs,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    pairs = chunk_semantic_pairs(docs).collect()
    assert pairs, "fixture must produce at least one semantic pair"
    rows = chunk_alias_map(docs).collect()
    alias = {r["chunk_fp"]: r for r in rows}
    paired = {p["a_fp"] for p in pairs} | {p["b_fp"] for p in pairs}
    assert set(alias) == paired          # exactly the clustered fps
    # union-find ground truth over the pair edges
    parent = {fp: fp for fp in paired}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for p in pairs:
        ra, rb = find(p["a_fp"]), find(p["b_fp"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for fp in paired:
        root = find(fp)
        want.setdefault(root, []).append(fp)
    for root, members in want.items():
        canon = min(members)
        for m in members:
            r = alias[m]
            assert r["canonical_fp"] == canon, (m, r, canon)
            assert r["is_canonical"] == (m == canon)


def test_learned_budget_fuzz_vs_bruteforce(spark):
    """Seeded fuzz (the keep-best fuzz pattern): 60 random docs across
    4 sources, the Spark fill must equal a pure-Python replica that
    recomputes the identical features, rank key (round(w·x, 4) desc,
    doc_id asc) and greedy cumsum — membership AND the reported
    n_tokens/score_key, not just counts."""
    import math
    import random

    from ballcone_spark.operators.quality_classifier import (
        FROZEN_W,
        learned_budget_sample,
    )

    rng = random.Random(1234)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(60):
        n = rng.randint(1, 40)
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        text = " ".join(words)
        rows.append((i, text, f"s{i % 4}", "en", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string, lang string, n_chars int"
    )
    budget = 120
    got = sorted(
        (r["source"], r["doc_id"], r["n_tokens"], r["score_key"])
        for r in learned_budget_sample(docs, FROZEN_W, budget).collect()
    )

    # brute-force replica
    per_source: dict = {}
    for i, text, src, _lang, n_chars in rows:
        toks = text.strip().split()
        n_tok = len(toks)
        uniq = len(set(toks)) / n_tok
        z = (
            FROZEN_W[0]
            + FROZEN_W[1] * math.log1p(n_tok)
            + FROZEN_W[2] * uniq
            + FROZEN_W[3] * math.log1p(n_chars)
        )
        per_source.setdefault(src, []).append((round(z, 4), i, n_tok))
    want = []
    for src, items in per_source.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        cum = 0
        for key, i, n_tok in items:
            cum += n_tok
            if cum <= budget:
                want.append((src, i, n_tok, key))
    assert got == sorted(want)


def test_curation_budget_mix_no_cluster_twins(spark):
    """Composition invariant: the budget fill runs AFTER keep-best, so
    no near-dup cluster may contribute two docs to the shipped set, and
    every shipped doc passes the gate. Checked on the real corpus
    against independently recomputed clusters."""
    from pyspark.sql import functions as F

    from ballcone_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )
    from ballcone_spark.operators.quality_classifier import (
        FROZEN_W,
        curation_budget_mix,
    )
    from ballcone_spark.queries import load_table

    docs = load_table(spark, SF, "documents")
    out = curation_budget_mix(docs, FROZEN_W, budget=800).collect()
    assert out, "fixture must ship at least one doc"
    shipped = {r["doc_id"] for r in out}

    toks = F.split(F.trim(F.col("text")), r"\s+")
    passing = docs.where(F.col("text").isNotNull()).select(
        "doc_id", "text",
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        "n_chars",
    ).where(
        (F.col("n_chars") >= 100) & (F.col("n_tok") >= 20)
        & ((F.col("n_uniq") / F.col("n_tok")) >= 0.3)
    )
    passing_ids = {r["doc_id"] for r in passing.select("doc_id").collect()}
    assert shipped <= passing_ids
    clusters = dedup_clusters(
        minhash_lsh_pairs(passing.select("doc_id", "text"))
        .select("a_id", "b_id")
    ).collect()
    assert clusters, "fixture must contain at least one near-dup cluster"
    by_cluster: dict = {}
    for r in clusters:
        if r["doc_id"] in shipped:
            by_cluster.setdefault(r["cluster_id"], []).append(r["doc_id"])
    assert all(len(v) == 1 for v in by_cluster.values()), by_cluster


def test_dedup_clusters_path_graphs_converge_fast(spark):
    """The r10 engine rewrite's contract: star alternation must close
    a value-random path graph in O(log n) phases (the old min-label +
    pointer-jumping engine was O(diameter): 60 rounds for n=200 —
    linear — which silently exceeded max_iters on the chunk alias
    map's chain-shaped graphs), and the labels must equal union-find
    ground truth."""
    import random

    from ballcone_spark.operators.dedup import dedup_clusters

    rng = random.Random(7)
    n = 2000
    ids = list(range(n))
    rng.shuffle(ids)
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)],
        "a_id long, b_id long",
    )
    # must converge within a log-scale phase budget, far under the
    # default 50 (measured: 10 phases at n=2000, 12 at n=20000)
    got = dedup_clusters(pairs, max_iters=16).collect()
    assert {r["cluster_id"] for r in got} == {0}
    assert len(got) == n


def test_lsh_hashed_verify_identical_and_scale_zone_wiring(spark):
    """r11 scale-zone verify: exact_jaccard_on_pairs(hashed=True) must
    produce IDENTICAL (a_id, b_id, jaccard) rows to the string path
    whenever xxhash64 is injective on the corpus shingles (the license
    minhash_lsh_pairs now checks above the band floor), and the
    injectivity license itself must hold on the fixture."""
    from ballcone_spark.operators.dedup import (
        _NGRAM,
        adaptive_band_rows,
        band_pairs,
        exact_jaccard_on_pairs,
        minhash_signatures_np,
        shingle_rows,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    inj = (
        shingle_rows(docs, n=_NGRAM)
        .agg(
            (
                F.countDistinct("s") == F.countDistinct(F.xxhash64("s"))
            ).alias("ok")
        )
        .first()["ok"]
    )
    assert inj  # the license the scale zone depends on

    rows = adaptive_band_rows(docs.count())
    sig = minhash_signatures_np(docs, n_hashes=4 * rows)
    cand = band_pairs(sig, rows=rows).localCheckpoint(eager=True)
    want = sorted(
        map(tuple, exact_jaccard_on_pairs(docs, cand, vectorized=True)
            .collect())
    )
    got = sorted(
        map(tuple,
            exact_jaccard_on_pairs(docs, cand, vectorized=True, hashed=True)
            .collect())
    )
    assert got == want


def test_band_pairs_bucket_cap_drops_mega_buckets_only(spark):
    """§6ab mega-bucket guard: band buckets above the cap are dropped
    BEFORE the pair explosion; sub-cap buckets are untouched; cap=None
    keeps everything (the oracle-SF path)."""
    from ballcone_spark.operators.dedup import N_BANDS, band_pairs

    rows = 4
    k = N_BANDS * rows
    sigs = (
        [(i, *([7] * k)) for i in range(10)]      # mega group: bucket 10
        + [(20, *([9] * k)), (21, *([9] * k))]     # small group: bucket 2
    )
    cols = "doc_id long, " + ", ".join(f"sig_{j} long" for j in range(k))
    sig = spark.createDataFrame(sigs, cols)

    uncapped = band_pairs(sig, rows=rows).count()
    assert uncapped == 45 + 1  # C(10,2) + 1

    capped = {
        (r["a_id"], r["b_id"])
        for r in band_pairs(sig, rows=rows, bucket_cap=5).collect()
    }
    assert capped == {(20, 21)}
