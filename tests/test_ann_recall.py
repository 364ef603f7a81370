"""ANN quality gates: the approximate top-k paths (hyperplane LSH, IVF)
must keep useful recall against the exact brute-force baseline — the
correctness notion for operators that are approximate BY DESIGN (their
catalog entries are rows-only; this is their real check)."""

from __future__ import annotations

import pytest

from seo_audit_etl_actor_spark.operators import similarity
from seo_audit_etl_actor_spark.session import load_table

QUERY_IDS = (0, 7, 21)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _ids(df):
    return [r["vec_id"] for r in df.collect()]


def test_lsh_mean_recall_at_10(emb):
    """Recall is a distributional property — gate the mean over queries
    (individual queries on a 500-vector corpus can legitimately dip)."""
    recalls = []
    for qid in QUERY_IDS:
        bf = set(_ids(similarity.cosine_topk(emb, qid, k=10)))
        lsh = set(_ids(similarity.cosine_topk_lsh(emb, qid, k=10)))
        recalls.append(len(bf & lsh) / 10)
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    assert all(r >= 0.1 for r in recalls), recalls


@pytest.mark.parametrize("qid", QUERY_IDS)
def test_ivf_recall_at_10(emb, qid):
    bf = set(_ids(similarity.cosine_topk(emb, qid, k=10)))
    ivf = set(_ids(similarity.cosine_topk_ivf(emb, qid, k=10)))
    assert len(bf & ivf) / 10 >= 0.7, (qid, sorted(bf), sorted(ivf))


def test_brute_force_is_exact_on_itself(emb):
    """Sanity: the baseline's own top-1 neighbor of a duplicated vector is
    deterministic (ties broken by vec_id)."""
    top = _ids(similarity.cosine_topk(emb, 0, k=10))
    assert len(top) == len(set(top)) == 10


@pytest.mark.parametrize(
    "op, cols",
    [
        (similarity.cosine_topk, ["vec_id", "cosine_sim"]),
        (similarity.cosine_topk_lsh, ["vec_id", "cosine_sim"]),
        (similarity.cosine_topk_ivf, ["vec_id", "cosine_sim"]),
        (similarity.cosine_topk_rerank, ["vec_id", "coarse_sim", "rerank_score"]),
    ],
    ids=["bruteforce", "lsh", "ivf", "rerank"],
)
def test_missing_query_id_gives_no_rows(emb, op, cols):
    """An id no row carries has no neighbours: every top-k operator
    returns its usual columns and zero rows, as the DuckDB oracles do."""
    df = op(emb, 10**9, k=10)
    assert df.columns == cols
    assert df.collect() == []


# --- recall-targeting probe policy (r11) -----------------------------------


def test_choose_probes_model_is_exact_binomial():
    """The policy's expected recall/scan are the exact binomial CDFs of the
    hyperplane separation model — spot-check against hand computation."""
    from math import comb

    pol = similarity.choose_probes(2000, target_recall=0.9, neighbor_cosine=0.8)
    assert (pol["n_planes"], pol["max_hamming"]) == (8, 3)
    p = similarity.lsh_separation_prob(0.8)
    by_hand = sum(comb(8, i) * p**i * (1 - p) ** (8 - i) for i in range(4))
    assert abs(pol["lsh_expected_recall"] - by_hand) < 1e-12
    # scan fraction at p=1/2 is a dyadic rational: (C(8,0..3))/256 = 93/256
    assert pol["lsh_expected_scan_frac"] == 93 / 256
    assert pol["lsh_expected_scan_frac_x1e6"] == 363281


def test_choose_probes_meets_target_at_min_hamming():
    """max_hamming is the SMALLEST h meeting the target (h-1 misses it)."""
    for n in (200, 20_000, 200_000, 2_000_000):
        for c in (0.9, 0.8, 0.7):
            pol = similarity.choose_probes(n, 0.9, c)
            assert pol["lsh_expected_recall"] >= 0.9
            if pol["max_hamming"] > 0:
                below = similarity._binom_cdf(
                    pol["max_hamming"] - 1,
                    pol["n_planes"],
                    similarity.lsh_separation_prob(c),
                )
                assert below < 0.9


def test_choose_probes_scan_fraction_is_sublinear():
    """The policy's whole point: at a fixed recall target the modeled scan
    FRACTION falls as the corpus grows (planes scale with log n), so
    scanned rows grow sub-linearly."""
    fracs = [
        similarity.choose_probes(n, 0.9, 0.9)["lsh_expected_scan_frac"]
        for n in (2_000, 200_000, 20_000_000)
    ]
    assert fracs[0] > fracs[1] > fracs[2], fracs
    assert fracs[2] < 0.05


def test_choose_probes_driver_sf_pin():
    """Every driver correctness SF floors to the same static knobs the
    ann_probe_policy_audit oracle hard-codes. r12: the ranked-probing IVF
    leg caps at the tier-0 16-cell codebook (safety-adjusted k=23 > 16)
    -> exhaustive probing, recall exactly 1."""
    for n in (20, 200, 500, 2000):
        pol = similarity.choose_probes(n, 0.9, 0.8)
        assert pol["n_planes"] == 8
        assert pol["max_hamming"] == 3
        assert pol["n_cells"] == 16
        assert pol["nprobe"] == 16
        assert pol["ivf_expected_recall_x1e6"] == 1000000
        assert pol["lsh_expected_recall_x1e6"] == 939177


def test_ranked_probe_model_production_pins():
    """The audit's production-rung literals (v2 decontaminated law):
    nprobe grows only ~ln(n_cells) past the 512-cell calibration base,
    so the modeled scan FRACTION still falls ~5x from 200k to 2M
    (6.25% -> 1.29%) — and stays 4-20x below the r11 binomial-ball
    bound (130/512 = 25.4%) the measurements refuted, while the v1
    ranked picks (23 at both rungs) measured BELOW target once the
    in-codebook query contamination was removed."""
    p200k = similarity.choose_probes(200_000, 0.9, 0.8)
    assert (p200k["n_cells"], p200k["nprobe"]) == (512, 32)
    assert p200k["ivf_expected_recall_x1e6"] == 900000
    assert p200k["ivf_expected_scan_frac_x1e6"] == 62500
    p2m = similarity.choose_probes(2_000_000, 0.9, 0.8)
    assert (p2m["n_cells"], p2m["nprobe"]) == (4096, 53)
    assert p2m["ivf_expected_recall_x1e6"] == 900000
    assert p2m["ivf_expected_scan_frac_x1e6"] == 12939


def test_ranked_probe_model_monotone_and_calibrated():
    """v2 model sanity (r12 — recalibrated on DECONTAMINATED curves, the
    out-of-codebook query plants of SCALE_STUDY_r12): recall is monotone
    in nprobe and in neighbor cosine; the chosen nprobe at every
    calibration knot equals the swept point that measured ≥0.9
    decontaminated recall, and the model never promises more recall than
    those measurements delivered."""
    for c in (0.9, 0.8, 0.7):
        rs = [similarity.ranked_probe_recall(k, 512, c) for k in (1, 2, 4, 8, 16, 32)]
        assert all(a <= b for a, b in zip(rs, rs[1:])), (c, rs)
    # cosine monotonicity where the law is off its floor (the miss law
    # saturates at 0 far below the crossing)
    for k in (8, 16, 64):
        assert similarity.ranked_probe_recall(k, 512, 0.9) > similarity.ranked_probe_recall(
            k, 512, 0.7
        )
    # calibration knots == the measured decontaminated ≥0.9 crossings
    # (SCALE_STUDY_r12 ann_recall: m100 = 512 cells, m1000 = 4096 cells)
    assert similarity.choose_ranked_nprobe(512, 0.9, 0.9) == 16  # meas 0.9415
    assert similarity.choose_ranked_nprobe(512, 0.9, 0.8) == 32  # meas 0.9309
    assert similarity.choose_ranked_nprobe(512, 0.9, 0.7) == 128  # meas 0.9734
    assert similarity.choose_ranked_nprobe(4096, 0.9, 0.9) == 23  # meas 0.9531
    assert similarity.choose_ranked_nprobe(4096, 0.9, 0.8) == 53  # meas 0.9141
    # the v1 picks these replace measured BELOW target decontaminated
    # (8 -> 0.8359, 23 -> 0.7344 at 4096 cells) — v2 must exceed them
    assert similarity.choose_ranked_nprobe(4096, 0.9, 0.9) > 8
    assert similarity.choose_ranked_nprobe(4096, 0.9, 0.8) > 23
    # miss-decay law conservative vs the measured points past each
    # crossing (m100 512 cells, decontam): model miss >= measured miss
    measured_past = {
        (0.9, 23): 0.9681, (0.9, 32): 0.9734, (0.9, 53): 0.9947,
        (0.8, 53): 0.9734, (0.8, 64): 0.9894,
    }
    for (c, k), m in measured_past.items():
        assert similarity.ranked_probe_recall(k, 512, c) <= m + 1e-9, (c, k)
    # tier 0 always exhausts the 16-cell codebook -> recall exactly 1
    # (the audit's static driver-SF pin)
    for c in (0.9, 0.8, 0.7):
        assert similarity.choose_ranked_nprobe(16, 0.9, c) == 16
        assert similarity.ranked_probe_recall(16, 16, c) == 1.0
    # higher targets scale by the miss-decay law
    assert similarity.choose_ranked_nprobe(512, 0.95, 0.8) == 64
    assert similarity.ranked_probe_recall(64, 512, 0.8) == 0.95


def test_multiprobe_lsh_beats_default_recall(emb):
    """Policy-chosen hamming widens recall vs the single-probe default on
    the real table (the r10 study's 0.375 gap, closed by the policy)."""
    pol = similarity.choose_probes(500, 0.9, 0.8)
    got_default, got_policy = [], []
    for qid in QUERY_IDS:
        bf = set(_ids(similarity.cosine_topk(emb, qid, k=10)))
        d = set(_ids(similarity.cosine_topk_lsh(emb, qid, k=10)))
        w = set(
            _ids(
                similarity.cosine_topk_lsh(
                    emb, qid, k=10,
                    n_planes=pol["n_planes"], max_hamming=pol["max_hamming"],
                )
            )
        )
        got_default.append(len(bf & d) / 10)
        got_policy.append(len(bf & w) / 10)
    assert sum(got_policy) >= sum(got_default)
    assert sum(got_policy) / len(got_policy) >= 0.6, (got_default, got_policy)
