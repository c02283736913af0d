"""Recompute pytests for the operators in operators/queue_r11.py.
Plain-Python re-derivations from the raw parquet: independent of both
engines, so a logic bug mirrored into the oracle cannot hide."""

import pandas as pd


def test_substring_span_purge_matches_exact_string_recompute(spark, sf_dir):
    """Re-derive the purge spans with EXACT window strings (no hashing
    at all): any rolling-hash collision or prefix-hash indexing bug in
    the operator would desynchronize from this ground truth.  Also
    verifies the char offsets by slicing the original text."""
    from vectordb_agentic_rag_spark.operators.dedup import (
        _PURGE_K,
        dedup_substring_span_purge,
    )

    K = _PURGE_K
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    toks = {int(r.doc_id): r.text.split(" ") for r in docs.itertuples()}
    counts: dict[str, int] = {}
    for tk in toks.values():
        for i in range(len(tk) - K + 1):
            s = " ".join(tk[i : i + K])
            counts[s] = counts.get(s, 0) + 1
    expected = set()
    texts = {int(r.doc_id): r.text for r in docs.itertuples()}
    for doc_id, tk in toks.items():
        dup_i = [
            i + 1  # 1-based
            for i in range(len(tk) - K + 1)
            if counts[" ".join(tk[i : i + K])] >= 2
        ]
        runs = []
        for i in dup_i:
            if runs and i - runs[-1][1] <= K:
                runs[-1][1] = i
            else:
                runs.append([i, i])
        spans = [(st, en + K - 1) for st, en in runs]
        total = sum(en - st + 1 for st, en in spans)
        for idx, (st, en) in enumerate(sorted(spans), 1):
            start_char = (
                1 if st == 1 else len(" ".join(tk[: st - 1])) + 2
            )
            end_char = len(" ".join(tk[:en]))
            expected.add(
                (doc_id, idx, st, en, en - st + 1, start_char, end_char,
                 len(tk), total)
            )
            # char offsets really do address the span's bytes
            assert (
                texts[doc_id][start_char - 1 : end_char]
                == " ".join(tk[st - 1 : en])
            )
    got = {
        (
            r.doc_id, r.run_idx, r.start_tok, r.end_tok, r.run_tokens,
            r.start_char, r.end_char, r.doc_tokens, r.doc_purged_tokens,
        )
        for r in dedup_substring_span_purge(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(expected) > 0  # the fixture has verbatim repeated spans


def test_band_tuning_matches_python_recompute(spark, sf_dir):
    """Re-derive the whole tuning table in Python — minhash signatures,
    per-scheme band-group slot counts (including a PACKED-key twin for
    the (4,2) production scheme, catching any fold-key collision), the
    stride-pair Jaccard quantiles, and the unrolled S-curve."""
    from vectordb_agentic_rag_spark.operators.dedup import (
        _A,
        _B,
        N_HASH,
        P_CODE,
        P_HASH,
    )
    from vectordb_agentic_rag_spark.operators.text import (
        _TUNE_PCTS,
        _TUNE_SCHEMES,
        _TUNE_STRIDE,
        text_minhash_band_tuning,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]

    def code(tok: str) -> int:
        h = 0
        for ch in tok:
            h = (h * 31 + ord(ch)) % P_CODE
        return h

    csets, sigs = {}, {}
    for r in docs.itertuples():
        cs = [code(t) for t in dict.fromkeys(r.text.split(" "))]
        csets[int(r.doc_id)] = set(cs)
        sigs[int(r.doc_id)] = [
            min((_A[i] * c + _B[i]) % P_HASH for c in cs)
            for i in range(N_HASH)
        ]

    slot_counts = {}
    for b, rr in _TUNE_SCHEMES:
        groups: dict[tuple[int, int], int] = {}
        for s in sigs.values():
            for j in range(b):
                h = 0
                for k in range(rr):
                    h = (h * 131 + s[j * rr + k]) % P_HASH
                groups[(j, h)] = groups.get((j, h), 0) + 1
        slot_counts[(b, rr)] = sum(c * (c - 1) // 2 for c in groups.values())
    # packed-key twin of the (4,2) production banding
    packed: dict[tuple[int, int], int] = {}
    for s in sigs.values():
        for j in range(4):
            packed[(j, s[2 * j] * P_HASH + s[2 * j + 1])] = (
                packed.get((j, s[2 * j] * P_HASH + s[2 * j + 1]), 0) + 1
            )
    assert slot_counts[(4, 2)] == sum(
        c * (c - 1) // 2 for c in packed.values()
    )

    jm = sorted(
        len(csets[i] & csets[i + _TUNE_STRIDE])
        * 1_000_000
        // len(csets[i] | csets[i + _TUNE_STRIDE])
        for i in csets
        if i + _TUNE_STRIDE in csets
    )
    n = len(jm)
    quant = {p: jm[(p * n + 99) // 100 - 1] for p in _TUNE_PCTS}

    expected = set()
    for b, rr in _TUNE_SCHEMES:
        for p in _TUNE_PCTS:
            j = quant[p] / 1_000_000.0
            jr = j
            e = rr
            while e > 1:
                jr = jr * jr
                e //= 2
            q = 1.0 - jr
            e = b
            while e > 1:
                q = q * q
                e //= 2
            pc = jr if b == 1 else 1.0 - q
            expected.add(
                (b, rr, p, quant[p], round(pc, 6), slot_counts[(b, rr)])
            )
    got = {
        (
            r.bands, r.rows_per_band, r.quantile_pct, r.j_micro,
            r.p_collide, r.candidate_slots,
        )
        for r in text_minhash_band_tuning(spark, sf_dir).collect()
    }
    assert got == expected
    assert len(got) == len(_TUNE_SCHEMES) * len(_TUNE_PCTS)


def test_dedup_cascade_audit_matches_python_recompute(spark, sf_dir):
    """Re-derive the whole 3-stage funnel in plain Python: sha-256
    exact keepers, minhash banding + exact code-set Jaccard >= 0.7
    keep-first removals, then EXACT window strings (no hashing) for
    the survivor-corpus span purge — one independent path per stage,
    so a mirrored logic bug in either engine text cannot hide."""
    import hashlib

    from vectordb_agentic_rag_spark.operators.dedup import (
        _A,
        _B,
        N_BANDS,
        N_HASH,
        P_CODE,
        P_HASH,
    )
    from vectordb_agentic_rag_spark.operators.dedup import _PURGE_K
    from vectordb_agentic_rag_spark.operators.pipelines import (
        pipeline_dedup_cascade_audit,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[["doc_id", "text"]]
    toks = {int(r.doc_id): r.text.split(" ") for r in docs.itertuples()}
    ntok = {d: len(tk) for d, tk in toks.items()}

    # stage 1: exact sha-256, keep min doc_id per text
    keeper: dict[str, int] = {}
    for r in docs.itertuples():
        h = hashlib.sha256(r.text.encode()).hexdigest()
        keeper[h] = min(keeper.get(h, 10**18), int(r.doc_id))
    s1 = {
        int(r.doc_id)
        for r in docs.itertuples()
        if keeper[hashlib.sha256(r.text.encode()).hexdigest()]
        == int(r.doc_id)
    }

    # stage 2: minhash bands -> candidates -> Jaccard>=0.7, keep-first
    def code(tok: str) -> int:
        h = 0
        for c in tok:
            h = (h * 31 + ord(c)) % P_CODE
        return h

    cs = {
        d: {code(t) for t in dict.fromkeys(toks[d])} for d in s1
    }
    sigs = {
        d: [min((_A[i] * c + _B[i]) % P_HASH for c in s) for i in range(N_HASH)]
        for d, s in cs.items()
    }
    buckets: dict[tuple, list[int]] = {}
    for d, s in sigs.items():
        for j in range(N_BANDS):
            buckets.setdefault(
                (j, s[2 * j] * P_HASH + s[2 * j + 1]), []
            ).append(d)
    rem2 = set()
    for members in buckets.values():
        ms = sorted(members)
        for ai in range(len(ms)):
            for bi in range(ai + 1, len(ms)):
                a, b = ms[ai], ms[bi]
                jac = len(cs[a] & cs[b]) / len(cs[a] | cs[b])
                if jac >= 0.7:
                    rem2.add(b)
    s2 = s1 - rem2

    # stage 3: exact-string 50-token window purge over the SURVIVORS
    K = _PURGE_K
    counts: dict[str, int] = {}
    for d in s2:
        tk = toks[d]
        for i in range(len(tk) - K + 1):
            w = " ".join(tk[i : i + K])
            counts[w] = counts.get(w, 0) + 1
    purged = 0
    affected = 0
    for d in s2:
        tk = toks[d]
        dup_i = [
            i
            for i in range(len(tk) - K + 1)
            if counts[" ".join(tk[i : i + K])] >= 2
        ]
        runs = []
        for i in dup_i:
            if runs and i - runs[-1][1] <= K:
                runs[-1][1] = i
            else:
                runs.append([i, i])
        if runs:
            affected += 1
            purged += sum(en + K - 1 - st + 1 for st, en in runs)

    tk_all = sum(ntok.values())
    tk_s1 = sum(ntok[d] for d in s1)
    tk_s2 = sum(ntok[d] for d in s2)
    expected = [
        (1, "exact", len(toks), len(toks) - len(s1), len(toks) - len(s1),
         tk_all, tk_all - tk_s1),
        (2, "near_minhash", len(s1), len(s1) - len(s2), len(s1) - len(s2),
         tk_s1, tk_s1 - tk_s2),
        (3, "substring_span", len(s2), 0, affected, tk_s2, purged),
    ]
    got = [
        (
            r.stage_no, r.stage, r.docs_in, r.docs_removed,
            r.docs_affected, r.tokens_in, r.tokens_removed,
        )
        for r in pipeline_dedup_cascade_audit(spark, sf_dir)
        .orderBy("stage_no")
        .collect()
    ]
    assert got == expected
    # the fixture's unigram degeneracy makes stage 2 do real work
    assert expected[1][3] > 0


def test_dsir_importance_weights_matches_python_recompute(spark, sf_dir):
    """Re-derive the DSIR weights in plain Python: hashed-unigram
    counts for target (en) vs raw, Laplace-smoothed LLR per bucket
    quantized to 9 decimals, exact Decimal accumulation per doc."""
    import math
    from decimal import Decimal

    from vectordb_agentic_rag_spark.operators.dedup import P_CODE
    from vectordb_agentic_rag_spark.operators.text import (
        _DSIR_B,
        _DSIR_DIV,
        _DSIR_TARGET,
        text_dsir_importance_weights,
    )

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")[
        ["doc_id", "text", "lang"]
    ]

    def bucket(tok: str) -> int:
        h = 0
        for c in tok:
            h = (h * 31 + ord(c)) % P_CODE
        return ((h * 2654435761) % 4294967296) // _DSIR_DIV

    per_doc: dict[int, dict[int, int]] = {}
    lang = {}
    ntok = {}
    craw: dict[int, int] = {}
    ctgt: dict[int, int] = {}
    rtot = ttot = 0
    for r in docs.itertuples():
        d = int(r.doc_id)
        lang[d] = r.lang
        tks = r.text.split(" ")
        ntok[d] = len(tks)
        tf: dict[int, int] = {}
        for t in tks:
            tf[bucket(t)] = tf.get(bucket(t), 0) + 1
        per_doc[d] = tf
        for b, c in tf.items():
            craw[b] = craw.get(b, 0) + c
            rtot += c
            if r.lang == _DSIR_TARGET:
                ctgt[b] = ctgt.get(b, 0) + c
        if r.lang == _DSIR_TARGET:
            ttot += len(tks)

    # mirror the engines' expression: ln of ONE double ratio, round(9)
    term: dict[int, Decimal] = {}
    for b, cr in craw.items():
        ratio = ((ctgt.get(b, 0) + 1) * (rtot + _DSIR_B)) / (
            (cr + 1) * (ttot + _DSIR_B)
        )
        term[b] = Decimal(f"{round(math.log(ratio), 9):.9f}")

    got = {
        r.doc_id: (r.lang, r.n_tokens, r.is_target, r.llr_weight)
        for r in text_dsir_importance_weights(spark, sf_dir).collect()
    }
    assert set(got) == set(per_doc)
    for d, tf in per_doc.items():
        w = sum(Decimal(c) * term[b] for b, c in tf.items())
        expected = float(round(float(w), 6))
        assert got[d] == (
            lang[d],
            ntok[d],
            1 if lang[d] == _DSIR_TARGET else 0,
            expected,
        ), d
    # target docs should score higher on average than non-target
    tgt = [v[3] for v in got.values() if v[2] == 1]
    non = [v[3] for v in got.values() if v[2] == 0]
    assert sum(tgt) / len(tgt) > sum(non) / len(non)
