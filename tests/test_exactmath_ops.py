"""Exact-arithmetic algorithm pins: closest pair, canonical Huffman,
KMP, Manacher, tANS and speculative sampling, each against an
independent re-derivation."""

from knowledge_extraction_pipeline_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_closest_pair_grid_exact_and_pruned(spark):
    r = QUERIES["ann_closest_pair_grid"](spark, SF).collect()
    assert len(r) == 1
    r = r[0]
    # the blocking-bound theorem: grid answer == brute-force answer
    assert r["grid_exact"]
    assert r["winner_adjacent"]
    assert r["candidates_pruned"]
    assert r["grid_min_d2"] == r["brute_min_d2"]
    assert r["pair_a"] < r["pair_b"]
    assert 1 <= r["n_candidate_pairs"] <= r["n_total_pairs"]
    assert r["n_total_pairs"] == r["n_points"] * (r["n_points"] - 1) // 2
    # cell size really bounds the coarse estimate
    assert r["cell_size"] ** 2 >= min(r["coarse_bound_d2"], 1)
    assert r["grid_min_d2"] <= r["coarse_bound_d2"]


def test_canonical_huffman_tiles_the_code_space(spark):
    rows = QUERIES["text_canonical_huffman"](spark, SF).collect()
    assert rows and all(r["tiles_ok"] for r in rows)
    assert all(r["complete_ok"] for r in rows)
    L = rows[0]["max_len"]
    # independent prefix-freeness check: no code prefixes another
    codes = sorted((r["code_bits"] for r in rows))
    for a, b in zip(codes, codes[1:]):
        assert not b.startswith(a)
    # canonical property: within a length, codes are consecutive and
    # sorted by word; across lengths, shifted monotone
    by_len = {}
    for r in sorted(rows, key=lambda r: (r["code_len"], r["word"])):
        by_len.setdefault(r["code_len"], []).append(r["code"])
    for lst in by_len.values():
        assert lst == list(range(lst[0], lst[0] + len(lst)))
    # Kraft equality via the emitted intervals
    assert sum(r["iv_end"] - r["iv_start"] for r in rows) == 1 << L
    # lengths agree with the sibling Huffman-length query
    hl = {r["word"]: r["code_len"] for r in
          QUERIES["text_huffman_lengths"](spark, SF).collect()}
    assert {r["word"]: r["code_len"] for r in rows} == hl


def test_kmp_prefix_function_definition(spark):
    rows = sorted(QUERIES["text_kmp_prefix_function"](spark, SF)
                  .collect(), key=lambda r: r["i"])
    assert len(rows) == 120
    s = "".join(r["ch"] for r in rows)
    for r in rows:
        i, pi = r["i"], r["pi"]
        # definitional recheck: pi is a border...
        assert s[:pi] == s[i - pi:i]
        # ...and the MAXIMAL proper one
        for k in range(pi + 1, i):
            assert s[:k] != s[i - k:i]
        assert r["proper_ok"] and r["chain_step_ok"]
        assert r["period"] == i - pi
        assert r["full_period"] == (i % r["period"] == 0)
    assert rows[0]["pi"] == 0


def test_manacher_equals_definition_and_longest(spark):
    rows = sorted(QUERIES["text_manacher_palindromes"](spark, SF)
                  .collect(), key=lambda r: r["j"])
    n = rows[0]["n"]
    assert len(rows) == 2 * n + 1
    assert all(r["is_pal_ok"] for r in rows)
    assert all(r["maximal_ok"] for r in rows)
    for r in rows:
        assert r["pal"] == r["pal"][::-1]
        assert len(r["pal"]) == r["pal_len"]
        # parity: char centers give odd lengths, gaps even
        if r["pal_len"] > 0:
            assert (r["pal_len"] % 2 == 1) == (r["kind"] == "char")
    best = max(rows, key=lambda r: r["pal_len"])
    assert best["pal_len"] == rows[0]["best_len"] >= 1
    # the reported best really occurs at best_start
    assert any(r["pal_len"] == rows[0]["best_len"]
               and r["start_pos"] == rows[0]["best_start"]
               for r in rows)


def test_tans_round_trip_and_invariants(spark):
    rows = sorted(QUERIES["text_tans_coding"](spark, SF).collect(),
                  key=lambda r: r["step"])
    assert len(rows) == 48
    r0 = rows[0]
    # the round-trip theorem: decode reproduces every symbol,
    # exhausts the bitstream, restores the initial state
    assert r0["decode_ok"]
    assert all(r["range_ok"] for r in rows)
    assert 16 <= r0["final_state"] < 32
    # states chain: x_after of step s is x_before of step s+1
    for a, b in zip(rows, rows[1:]):
        assert a["x_after"] == b["x_before"]
        assert 16 <= a["x_after"] < 32
    assert rows[0]["x_before"] == 16  # initial state
    # bit accounting
    assert r0["total_bits"] == sum(r["nb_bits"] for r in rows)
    # it actually compresses below fixed 2-bit coding on this text
    assert r0["total_bits"] < 96
    # spread table: 16 slots, each symbol appears exactly freq times
    tbl = r0["table_str"]
    assert len(tbl) == 16
    freqs = {r["symbol"]: r["freq"] for r in rows}
    for sym, fs in freqs.items():
        assert tbl.count(str(sym)) == fs
    # per-step encode algebra: x_before == (x_small << nb) | bits_val
    for r in rows:
        assert r["x_before"] == (r["x_small"] << r["nb_bits"]) \
            + r["bits_val"]
        assert 0 <= r["bits_val"] < (1 << r["nb_bits"])


def test_speculative_sampling_identity(spark):
    rows = QUERIES["data_speculative_sampling"](spark, SF).collect()
    assert len(rows) == 5
    r0 = rows[0]
    A, B = r0["target_total"], r0["draft_total"]
    assert A > 0 and B > 0
    assert all(r["decomposition_ok"] for r in rows)
    assert all(r["residual_total_ok"] for r in rows)
    assert all(r["alpha_le_1"] for r in rows)
    assert all(r["alpha_eq_1_iff_equal"] for r in rows)
    # independent recheck of the per-token masses
    for r in rows:
        a, b = r["target_count"], r["draft_count"]
        assert r["accept_mass"] == min(a * B, b * A)
        assert r["residual_mass"] == max(a * B - b * A, 0)
        assert r["accept_mass"] + r["residual_mass"] == a * B
    # global accounting
    assert sum(r["target_count"] for r in rows) == A
    assert sum(r["draft_count"] for r in rows) == B
    assert r0["alpha_num"] == sum(r["accept_mass"] for r in rows)
    assert r0["alpha_den"] == A * B
    assert 0 < r0["alpha_num"] <= r0["alpha_den"]
