"""Index, coding and sampling primitive pins: Elias-Fano, Roaring and
Golomb postings, weighted reservoir sampling, Hamming SECDED and
Reed-Solomon erasure coding, length batching, FM-index and wavelet-tree
search, and the 2-SAT implication graph."""

from knowledge_extraction_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_elias_fano_tiers_reconstruction_and_bound(spark):
    rows = QUERIES["search_elias_fano_postings"](spark, SF).collect()
    assert all(r["recon_ok"] for r in rows)
    assert all(r["bound_ok"] for r in rows)
    by_list = {}
    for r in rows:
        by_list.setdefault(r["list_id"], []).append(r)
    # the rare list is the n=1 edge at sf0.001 and must carry a large l
    v300 = by_list["v300"]
    assert len(v300) == 1 and v300[0]["l"] >= 8
    # dense per-type lists split at a small l
    assert all(rs[0]["l"] <= 3 for lid, rs in by_list.items()
               if lid.startswith("type:"))
    for rs in by_list.values():
        rs.sort(key=lambda r: r["i"])
        xs = [r["x"] for r in rs]
        assert xs == sorted(xs)                      # monotone input
        sel = [r["select_pos"] for r in rs]
        assert sel == sorted(sel)                    # unary 1-positions
        assert all(s == r["i"] + r["hi"] for s, r in zip(sel, rs))
        # total_bits is the same constant on every row of a list
        assert len({r["total_bits"] for r in rs}) == 1


def test_weighted_reservoir_orders_by_priority(spark):
    import hashlib
    import math

    from knowledge_extraction_pipeline_spark.queries import _t

    rows = sorted(QUERIES["data_weighted_reservoir"](spark, SF).collect(),
                  key=lambda r: r["rank"])
    assert len(rows) == 20
    # priorities non-increasing with rank; every kept row above tau
    prs = [r["pr_e6"] for r in rows]
    assert prs == sorted(prs, reverse=True)
    assert all(r["above_tau"] for r in rows)
    assert rows[-1]["pr_e6"] >= rows[0]["tau_e6"]
    # independent priority recomputation for the kept docs
    docs = {r["doc_id"]: r["text"] for r in
            _t(spark, SF, "documents").select("doc_id", "text").collect()}
    for r in rows:
        w = max(len([x for x in docs[r["doc_id"]].split(" ") if x]), 1)
        assert r["w"] == w
        h = int(hashlib.md5(f"aes:{r['doc_id']}".encode())
                .hexdigest()[:16], 16)
        u = (h + 1.0) / 2.0 ** 64
        assert r["pr_e6"] == math.floor(1000000.0 * math.log(u) / w)


def test_roaring_layout_regimes_and_minimality(spark):
    rows = QUERIES["search_roaring_layout"](spark, SF).collect()
    assert all(r["minimal_ok"] for r in rows)
    # sf0.001: 1000 ids over 5 types -> sparse chunks pick arrays
    assert all(r["container"] == "array" for r in rows)
    assert all(r["n"] <= 4096 for r in rows)
    # chosen container size matches its formula
    for r in rows:
        assert r["array_bytes"] == 8 + 2 * r["n"]
        assert r["run_bytes"] == 10 + 4 * r["runs"]
        assert r["chosen_bytes"] <= r["bitmap_bytes"]
    # roaring total beats plain 4-byte ids on every scale tested here
    assert rows[0]["total_bytes"] < rows[0]["plain_bytes"]


def test_hamming_secded_contract(spark):
    rows = QUERIES["data_hamming_secded"](spark, SF).collect()
    assert all(r["secded_ok"] and r["syndrome_locates_ok"] for r in rows)
    verdicts = {}
    for r in rows:
        verdicts.setdefault(r["scenario"], set()).add(r["verdict"])
    assert verdicts[0] == {"clean"}
    assert verdicts[1] <= {"corrected", "parity_fixed"}
    assert verdicts[2] == {"double_detected"}
    assert verdicts[3] == {"parity_fixed"}
    # single flips in the 7-bit part really get corrected (not just
    # parity-repaired) for most rows
    assert sum(1 for r in rows
               if r["scenario"] == 1 and r["verdict"] == "corrected") > 0


def test_rs_erasure_recovers_and_reencodes(spark):
    rows = QUERIES["data_rs_erasure"](spark, SF).collect()
    assert len(rows) == 64
    assert all(r["recover_ok"] and r["reencode_ok"] for r in rows)
    r0 = rows[0]
    assert r0["erased1"] != r0["erased2"]
    assert 0 <= r0["erased1"] < 6 and 0 <= r0["erased2"] < 6
    # shards are genuine GF(256) bytes and parity differs from data
    for r in rows:
        for c in ("s0", "s1", "s2", "s3", "s4", "s5"):
            assert 0 <= r[c] <= 255
    # independent field check: encoding at x=1 is the plain XOR of the
    # four data bytes (1^i = 1 for all i)
    for r in rows:
        assert r["s0"] == r["d0"] ^ r["d1"] ^ r["d2"] ^ r["d3"]


def test_length_batching_budget_and_bucketing_wins(spark):
    rows = QUERIES["data_length_batching"](spark, SF).collect()
    assert len(rows) == 1000  # 500 docs x 2 variants
    assert all(r["budget_ok"] for r in rows)
    assert all(r["sorted_no_worse"] for r in rows)
    fifo = [r for r in rows if r["variant"] == "fifo"]
    srt = [r for r in rows if r["variant"] == "sorted"]
    # identical corpus both orders
    assert fifo[0]["variant_tokens"] == srt[0]["variant_tokens"]
    assert srt[0]["variant_padded"] <= fifo[0]["variant_padded"]
    assert srt[0]["variant_waste"] <= fifo[0]["variant_waste"]
    # per-batch padded cost recomputed from member rows
    from collections import defaultdict
    groups = defaultdict(list)
    for r in rows:
        groups[(r["variant"], r["shard"], r["batch"])].append(r)
    for g in groups.values():
        padded = len(g) * max(r["n_tokens"] for r in g)
        assert all(r["batch_padded"] == padded for r in g)
        assert padded <= 4096


def test_fm_index_search_matches_regex(spark):
    import re

    from knowledge_extraction_pipeline_spark.queries import _t

    rows = QUERIES["text_fm_index_search"](spark, SF).collect()
    assert all(r["fm_exact_ok"] for r in rows)
    # independent direct count via regex over the same normalization
    txt = (_t(spark, SF, "documents").orderBy("doc_id").limit(1)
           .collect()[0]["text"])
    s = re.sub(r"[^a-z ]", "", txt[:200].lower()) + "!"
    by_pat = {}
    for r in rows:
        by_pat.setdefault(r["pattern"], []).append(r)
    for p, rs in by_pat.items():
        want = len(re.findall(f"(?={re.escape(p)})", s))
        assert rs[0]["fm_count"] == want, p
        # widths are monotone non-increasing as the pattern extends
        ws = [r["width"] for r in sorted(rs, key=lambda r: r["step"])]
        assert all(a >= b for a, b in zip(ws, ws[1:]))
        assert len(rs) == len(p)


def test_wavelet_tree_rank_battery(spark):
    rows = QUERIES["text_wavelet_tree_rank"](spark, SF).collect()
    assert len(rows) == 8  # 4 words x 2 depths
    assert all(r["rank_ok"] for r in rows)
    # descent intervals are monotone non-increasing by level
    for r in rows:
        chain = [r["i"], r["l1_rank"], r["l2_rank"], r["l3_rank"],
                 r["l4_rank"], r["wavelet_rank"]]
        assert all(a >= b for a, b in zip(chain, chain[1:]))
        assert 0 <= r["wid"] < r["vocab_size"] <= 32
    # ranks at n/2 dominate ranks at n/4 for the same word
    by_word = {}
    for r in rows:
        by_word.setdefault(r["word"], []).append(r)
    for w, rs in by_word.items():
        rs.sort(key=lambda r: r["i"])
        assert rs[0]["wavelet_rank"] <= rs[1]["wavelet_rank"]


def test_golomb_gap_coding_optimality(spark):
    rows = sorted(QUERIES["search_golomb_gaps"](spark, SF).collect(),
                  key=lambda r: r["b"])
    assert len(rows) == 17
    r0 = rows[0]
    assert all(r["bstar_optimal_ok"] for r in rows)
    assert r0["best_le_heuristic"] and r0["beats_plain"]
    assert rows[r0["b_star"]]["total_bits"] == r0["best_bits"]
    # size curve is unimodal-ish around b*: endpoints are worse
    assert rows[0]["total_bits"] > r0["best_bits"]
    assert rows[16]["total_bits"] > r0["best_bits"]


def test_2sat_certificate_checks_formula(spark):
    rows = QUERIES["kg_2sat_implication"](spark, SF).collect()
    assert len(rows) == 20
    assert all(r["certificate_ok"] for r in rows)
    r0 = rows[0]
    if r0["satisfiable"]:
        # the assignment really satisfies every clause, re-evaluated
        # here from the emitted polarities
        val = {int(kv.split("=")[0][1:]): kv.endswith("T")
               for kv in r0["assignment"].split(",")}
        assert len(val) == 12
        for r in rows:
            la = val[r["var_a"]] if r["pol_a"] else not val[r["var_a"]]
            lb = val[r["var_b"]] if r["pol_b"] else not val[r["var_b"]]
            assert la or lb
            assert r["clause_sat"]
    # clause variables are distinct by construction
    assert all(r["var_a"] != r["var_b"] for r in rows)
    assert 1 <= r0["n_components"] <= 24
