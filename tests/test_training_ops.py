"""Semantic tests for the training-data operators (dedup / similarity /
text analysis / multimodal) on constructed fixtures with known answers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from daily_journal_dataflow_qc_spark.operators.dedup import (
    connected_components,
    dedup_survivors,
    exact_dedup,
    near_dup_pairs,
    ngram_jaccard,
    simhash_near_dups,
)
from daily_journal_dataflow_qc_spark.operators.multimodal import (
    extract_features,
    synthesize_media,
)
from daily_journal_dataflow_qc_spark.operators.similarity import (
    brute_force_knn,
    ivf_knn,
    lsh_bucketed_knn,
)
from daily_journal_dataflow_qc_spark.operators.textanalysis import with_text_analysis

BASE = (
    "the quick brown fox jumps over the lazy dog while the sun sets "
    "slowly behind the old wooden bridge near the quiet river bank"
)
NEAR = BASE.replace("lazy dog", "sleepy dog")  # one token changed
FAR = "completely different content about spark shuffles and partition pruning strategies"


def _docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [BASE, NEAR, FAR, BASE],  # 3 = exact dup of 0
        }
    )
    return spark.createDataFrame(pdf)


def test_exact_dedup(spark):
    d = exact_dedup(_docs(spark)).toPandas()
    assert sorted(d.doc_id) == [0, 1, 2]  # dup id=3 removed, min id kept


def test_minhash_lsh_near_dup(spark):
    pairs = near_dup_pairs(
        _docs(spark), threshold=0.5, n_hashes=8, bands=4, shingle_k=3
    ).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 3) in got and pairs[ (pairs.id_a==0)&(pairs.id_b==3) ].jaccard.iloc[0] == 1.0
    assert (0, 1) in got, "one-token edit should collide in some band and pass jaccard"
    for a, b in got:
        assert 2 not in (a, b), "unrelated doc must not be a near-dup"


def test_simhash_near_dups(spark):
    pairs = simhash_near_dups(_docs(spark), bits=16, max_hamming=3).toPandas()
    got = set(zip(pairs.id_a, pairs.id_b))
    assert (0, 3) in got
    assert pairs[(pairs.id_a == 0) & (pairs.id_b == 3)].hamming.iloc[0] == 0
    for a, b in got:
        assert 2 not in (a, b)


def test_ngram_jaccard(spark):
    pairs = spark.createDataFrame(
        pd.DataFrame({"text_a": [BASE, BASE], "text_b": [BASE, FAR]})
    )
    j = ngram_jaccard(pairs).toPandas().jaccard.tolist()
    assert j[0] == 1.0 and j[1] == 0.0


def test_lang_id_and_quality(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "the cat is in the garden and it was a nice day",
                "el gato es de la casa y que los perros en un jardin",
                "le chat est dans le jardin et les fleurs de la maison",
                "zzz qqq xxx",
            ],
        }
    )
    out = with_text_analysis(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[0, "lang_pred"] == "en"
    assert out.loc[1, "lang_pred"] == "es"
    assert out.loc[2, "lang_pred"] == "fr"
    assert out.loc[3, "lang_pred"] == "unknown"
    assert out.loc[0, "quality_score"] == 1.0
    assert out.loc[3, "n_words"] == 3
    assert (out["ws_tokens"] >= 1).all() and (out["re_tokens"] >= out["ws_tokens"] - 1).all()


def test_brute_force_vs_lsh_ann(spark):
    rng = np.random.default_rng(0)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    # make pairs (2i, 2i+1) near-identical so NN structure is known
    vecs = np.repeat(base[:20], 2, axis=0)
    vecs[1::2] += rng.standard_normal((20, 16)).astype(np.float32) * 0.01
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    exact = brute_force_knn(df, df, k=1).toPandas().set_index("vec_id")
    for i in range(0, 40, 2):
        assert exact.loc[i, "nn_id"] == i + 1
        assert exact.loc[i + 1, "nn_id"] == i
    approx = lsh_bucketed_knn(df, n_planes=4, seed=1).toPandas().set_index("vec_id")
    # paired twins share every hyperplane side (cos ~ 1) -> same bucket
    hits = sum(
        1 for i in range(40) if i in approx.index and approx.loc[i, "nn_id"] == (i ^ 1)
    )
    assert hits >= 30, f"LSH recall too low: {hits}/40"


def test_multimodal_plumbing(spark):
    media = synthesize_media(spark, n=30, seed=7)
    feats = extract_features(media, decoder="fake").toPandas()
    assert len(feats) == 30
    assert set(feats.kind) == {"image", "audio", "video"}
    assert (feats.n_bytes > 0).all()
    # deterministic: same input -> same features
    again = extract_features(media, decoder="fake").toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        again.sort_values("media_id").reset_index(drop=True),
    )
    # real decoder is an explicit stub
    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        extract_features(media, decoder="real").collect()


def test_summaries_match_pandas(spark, synth_dir, cfg):
    from daily_journal_dataflow_qc_spark.operators.summaries import (
        conv_level_summary,
        group_level_summary,
    )
    from daily_journal_dataflow_qc_spark.pipeline import run_batch_from_dir

    accepted = run_batch_from_dir(spark, synth_dir, cfg).accepted
    conv = conv_level_summary(accepted, cfg).toPandas().set_index("conv_id")
    acc = accepted.toPandas()
    g = acc.groupby("conv_id")
    want_days = g["day"].nunique()
    want_minutes = g["length_minutes"].sum().round(3)
    for c in want_days.index:
        assert conv.loc[c, "num_days_journal_submit"] == want_days[c]
        assert abs(conv.loc[c, "sum_minutes_audio_uploaded"] - want_minutes[c]) < 1e-6
        consent = pd.Timestamp(acc[acc.conv_id == c]["consent_date_at_accounting"].iloc[0])
        sd = (pd.Timestamp(cfg.compute_date) - consent).days + 1
        assert conv.loc[c, "study_day_at_compute_time"] == sd
    site = group_level_summary(accepted, cfg).toPandas()
    assert site["num_subjects_any_journal"].sum() == len(want_days)
    assert abs(site["sum_minutes_audio_uploaded"].sum() - want_minutes.sum()) < 1e-3

def test_lsh_ann_recall_vs_exact_sf001(spark):
    """Quantitative ANN gate: multi-table LSH recall@1 >= 0.9 against the
    exact broadcast-GEMM kNN on the sf0.01 embeddings table (random
    near-orthogonal embeddings — the WORST case for angular LSH; clustered
    real-world embeddings do better)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata unavailable")
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = brute_force_knn(e, e, k=1).toPandas().set_index("vec_id")
    ann = (
        lsh_bucketed_knn(e, n_planes=3, n_tables=16, seed=42)
        .toPandas()
        .set_index("vec_id")
    )
    hits = sum(
        1
        for v in exact.index
        if v in ann.index and ann.loc[v, "nn_id"] == exact.loc[v, "nn_id"]
    )
    recall = hits / len(exact)
    assert recall >= 0.9, f"ANN recall@1 {recall:.3f} < 0.9"


def test_brute_force_knn_size_guard(spark):
    e = spark.range(0, 10).selectExpr(
        "id as vec_id", "array(cast(id as float), 1.0f) as embedding"
    )
    with pytest.raises(ValueError, match="max_candidates"):
        brute_force_knn(e, e, k=1, max_candidates=5)
    # the guard consults n_rows_hint INSTEAD of counting: an over-limit hint
    # refuses even though the actual frame is tiny (and a correct hint on
    # the same frame skips the count() action entirely)
    with pytest.raises(ValueError, match="max_candidates"):
        brute_force_knn(e, e, k=1, max_candidates=5, n_rows_hint=6)
    got = brute_force_knn(e, e, k=1, n_rows_hint=10).toPandas()
    assert len(got) == 10


def test_audio_metrics_m1_m2(spark):
    """M1 RMS->dB + M2 mean spectral flatness over decoded signals: matches
    an independent per-row numpy mirror of the reference formulas
    (audio_diary_qc.py:81,160-168) and stays in the physical ranges."""
    import hashlib

    import numpy as np

    from daily_journal_dataflow_qc_spark.operators.multimodal import (
        SIGNAL_LEN,
        audio_metrics,
    )

    media = synthesize_media(spark, n=12, seed=3)
    got = audio_metrics(media, decoder="fake").toPandas().set_index("media_id")
    raw = media.select("media_id", "content").toPandas()

    for r in raw.itertuples():
        content = bytes(r.content)
        seed = int(hashlib.sha256(content).hexdigest()[:8], 16)
        sig = np.random.default_rng(seed).standard_normal(SIGNAL_LEN)
        rms = float(np.sqrt((sig**2).mean()))
        want_db = round(20 * np.log10(rms / 2e-5), 2)
        flats = []
        for s in range(0, SIGNAL_LEN - 64 + 1, 32):
            p = np.abs(np.fft.rfft(sig[s : s + 64])) ** 2
            flats.append(np.exp(np.log(p + 1e-10).mean()) / (p.mean() + 1e-10))
        want_flat = round(float(np.mean(flats)), 4)
        assert got.loc[r.media_id, "overall_db"] == want_db
        assert got.loc[r.media_id, "mean_flatness"] == want_flat
        assert 0.0 < got.loc[r.media_id, "mean_flatness"] <= 1.0
        assert 80.0 < got.loc[r.media_id, "overall_db"] < 110.0

    with pytest.raises(Exception, match="NotImplementedError|codecs unavailable"):
        audio_metrics(media, decoder="real").collect()


def test_brute_force_knn_tie_determinism(spark):
    """The batched top-k cut must stay deterministic under heavy ties:
    identical vectors (cos exactly 1 across the k-boundary), a zero-norm
    row (whole row ties at the NaN sentinel), and k>1 — ordering is
    (score desc, nn_id asc) with the cut widened across the boundary tie."""
    vecs = [[1.0, 0.0]] * 5 + [[0.0, 1.0]] * 2 + [[0.0, 0.0]]
    pdf = pd.DataFrame({"vec_id": range(8), "embedding": vecs})
    df = spark.createDataFrame(pdf)
    out = (
        brute_force_knn(df, df, k=3)
        .toPandas()
        .sort_values(["vec_id", "rk"])
        .set_index(["vec_id", "rk"])
    )
    # NaN (zero-norm candidate 7) ranks ABOVE every number — DuckDB orders
    # NaN first in DESC sorts and the oracle parity pins that. After it,
    # query 0's candidates 1-4 all tie at cos=1 -> smallest ids win, in order
    assert list(out.loc[0]["nn_id"]) == [7, 1, 2]
    assert pd.isna(out.loc[(0, 1), "cos_sim"])
    assert (out.loc[0]["cos_sim"][1:] == 1.0).all()
    # query 2 (same tie family, nonzero self id): self excluded, ids 0,1 next
    assert list(out.loc[2]["nn_id"]) == [7, 0, 1]
    # query 7 (zero-norm QUERY): every cosine is NaN, ranked by id asc
    assert list(out.loc[7]["nn_id"]) == [0, 1, 2]
    assert out.loc[7]["cos_sim"].isna().all()
    # query 5: NaN sentinel first, then true NN 6 (cos 1), then cos-0 family
    assert list(out.loc[5]["nn_id"]) == [7, 6, 0]
    assert pd.isna(out.loc[(5, 1), "cos_sim"])
    assert list(out.loc[5]["cos_sim"][1:]) == [1.0, 0.0]
    # duplicate-free output: one row per (vec_id, rk)
    assert len(out) == 8 * 3


def test_ivf_full_probe_equals_brute_force(spark):
    """Exactness anchor: with n_probe == n_cells every query examines every
    candidate (each candidate lives in exactly one cell), so IVF must EQUAL
    the exact broadcast-GEMM kNN — including duplicate-vector score ties
    (nn_id asc) and the zero-norm -> NaN-ranks-first leg. This is a stronger
    correctness pin than any approximate-recall bound."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 8)).astype(np.float32)
    vecs = np.vstack([base, base[:10]])  # ids 60-69 duplicate 0-9 (exact ties)
    vecs[65] = 0.0  # zero-norm row -> NaN cosine on both sides
    pdf = pd.DataFrame({"vec_id": range(70), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    exact = (
        brute_force_knn(df, df, k=3)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    ivf = (
        ivf_knn(df, n_cells=6, n_probe=6, k=3, seed=5)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(exact, ivf, check_dtype=False)


def test_ivf_hot_cell_split_exact(spark):
    """Automatic hot-cell splitting must be output-INVISIBLE: with
    max_cell_rows=8 every 70-vector cell splits into sub-cells, and the
    full-probe result must still EQUAL brute force (the splitting preserves
    every (query, candidate) co-occurrence exactly once); partial probe must
    equal the unsplit operator bit-for-bit."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 8)).astype(np.float32)
    vecs = np.vstack([base, base[:10]])
    vecs[65] = 0.0
    pdf = pd.DataFrame({"vec_id": range(70), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    exact = (
        brute_force_knn(df, df, k=3)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    split_full = (
        ivf_knn(df, n_cells=6, n_probe=6, k=3, seed=5, max_cell_rows=8)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(exact, split_full, check_dtype=False)
    part_unsplit = (
        ivf_knn(df, n_cells=6, n_probe=2, k=3, seed=5, max_cell_rows=None)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    part_split = (
        ivf_knn(df, n_cells=6, n_probe=2, k=3, seed=5, max_cell_rows=8)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(part_unsplit, part_split)


def test_split_hot_cells_bounds_and_coverage(spark):
    """The split primitive itself: candidate groups are bounded by
    max_cell_rows, every vector stays a candidate EXACTLY once, and every
    (query, candidate) cell co-occurrence survives in exactly one
    (cell, sub_cell) group — the invariant that makes the downstream
    reduces need no change."""
    from daily_journal_dataflow_qc_spark.operators.similarity import (
        _split_hot_cells,
    )

    # 40 vectors: hot cell 0 holds 25 candidates, cell 1 holds 15; every
    # vector also probes the OTHER cell as a query-only row
    rows = []
    for v in range(40):
        home = 0 if v < 25 else 1
        rows.append((v, [float(v), 1.0], home, True))
        rows.append((v, [float(v), 1.0], 1 - home, False))
    assigned = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int, is_cand boolean"
    )
    out, keys = _split_hot_cells(assigned, max_cell_rows=6)
    assert keys == ["cell", "sub_cell"]
    pdf = out.toPandas()
    # every vector is a candidate exactly once
    cand = pdf[pdf.is_cand]
    assert sorted(cand.vec_id) == list(range(40))
    # candidate group sizes bounded IN EXPECTATION (hash split: E[rows] <=
    # max_cell_rows, sqrt-n concentration at real cell sizes — at 25 rows
    # the noise dominates, so assert the mean and the split factor, not a
    # hard per-group cap), and the hot cell actually split
    sizes = cand.groupby(["cell", "sub_cell"]).size()
    hot = cand[cand.cell == 0]
    assert hot.sub_cell.nunique() == 5  # ceil(25/6)
    assert len(hot) / hot.sub_cell.nunique() <= 6
    assert sizes.max() < 25  # no sub-cell kept the whole hot cell
    # coverage: each (query, candidate) pair of the unsplit plan appears in
    # exactly ONE (cell, sub_cell) group
    groups = pdf.groupby(["cell", "sub_cell"])
    seen: dict[tuple, int] = {}
    for _, g in groups:
        for q in g.vec_id:
            for c in g[g.is_cand].vec_id:
                seen[(q, c)] = seen.get((q, c), 0) + 1
    for cell, members in ((0, range(25)), (1, range(25, 40))):
        for q in range(40):
            for c in members:
                assert seen.get((q, c)) == 1, (q, c, seen.get((q, c)))


def test_embedding_near_dup_hot_cell_split_exact(spark):
    """Near-dup pair set is split-invariant (full probe = exact threshold
    join even when every cell is forced to split)."""
    from daily_journal_dataflow_qc_spark.operators.similarity import (
        embedding_near_dup,
    )

    rng = np.random.default_rng(23)
    base = rng.standard_normal((50, 8)).astype(np.float32)
    vecs = np.vstack(
        [base, base[:8] + rng.standard_normal((8, 8)).astype(np.float32) * 0.01]
    )
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    unsplit = embedding_near_dup(
        df, threshold=0.95, n_cells=5, n_probe=5, seed=13, max_cell_rows=None
    ).toPandas()
    split = embedding_near_dup(
        df, threshold=0.95, n_cells=5, n_probe=5, seed=13, max_cell_rows=7
    ).toPandas()
    key = ["id_a", "id_b"]
    pd.testing.assert_frame_equal(
        unsplit.sort_values(key, ignore_index=True),
        split.sort_values(key, ignore_index=True),
    )


def test_ivf_recall_on_clustered_corpus(spark):
    """Partial probe on cluster-structured data (the case IVF is FOR):
    n_probe=2 of 8 trained cells must recover >= 0.9 of exact top-1."""
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 16)) * 5.0
    vecs = np.vstack(
        [c + rng.standard_normal((40, 16)) * 0.05 for c in centers]
    ).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    exact = brute_force_knn(df, df, k=1).toPandas().set_index("vec_id")
    ivf = (
        ivf_knn(df, n_cells=8, n_probe=2, k=1, seed=7)
        .toPandas()
        .set_index("vec_id")
    )
    hits = sum(
        1
        for v in exact.index
        if v in ivf.index and ivf.loc[v, "nn_id"] == exact.loc[v, "nn_id"]
    )
    recall = hits / len(exact)
    assert recall >= 0.9, f"IVF recall@1 {recall:.3f} < 0.9"


def test_ivf_deterministic_across_partitioning(spark):
    """The hash-filtered training sample (sorted by id) and stable tie
    handling make the whole operator partitioning-invariant: same input
    under a different partitioning -> identical output."""
    rng = np.random.default_rng(19)
    vecs = rng.standard_normal((120, 12)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(120), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    a = (
        ivf_knn(df, n_cells=5, n_probe=2, k=2, seed=9)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    b = (
        ivf_knn(df.repartition(7, "vec_id"), n_cells=5, n_probe=2, k=2, seed=9)
        .toPandas()
        .sort_values(["vec_id", "rk"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_embedding_near_dup_full_probe_exact(spark):
    """Full probe => the exact cosine threshold join: every (a,b) pair with
    cos >= t, verified against a numpy all-pairs oracle (duplicates at cos
    1.0 included; the zero-norm row matches nothing by convention)."""
    from daily_journal_dataflow_qc_spark.operators.similarity import (
        embedding_near_dup,
    )

    rng = np.random.default_rng(23)
    base = rng.standard_normal((50, 8)).astype(np.float32)
    vecs = np.vstack([base, base[:8] + rng.standard_normal((8, 8)).astype(np.float32) * 0.01])
    vecs[55] = 0.0
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    t = 0.95
    got = embedding_near_dup(df, threshold=t, n_cells=5, n_probe=5, seed=13).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))

    m = vecs.astype(np.float64)
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    nz = nrm[:, 0] > 0
    m[nz] = m[nz] / nrm[nz]
    sims = m @ m.T
    want = {
        (a, b)
        for a in range(len(vecs))
        for b in range(a + 1, len(vecs))
        if nz[a] and nz[b] and sims[a, b] >= t
    }
    assert got_pairs == want
    assert len(want) >= 7  # the perturbed replicas (minus the zeroed row 55)
    for _, r in got.iterrows():
        a, b = int(r.id_a), int(r.id_b)
        assert abs(r.cos_sim - round(sims[a, b], 2)) <= 0.01


def test_embedding_near_dup_partial_probe_recall(spark):
    """n_probe=2: near-dup replicas sit at cos ~1 (same cell by
    construction) — recall of the true pair set must stay >= 0.9."""
    from daily_journal_dataflow_qc_spark.operators.similarity import (
        embedding_near_dup,
    )

    rng = np.random.default_rng(31)
    base = rng.standard_normal((100, 16)).astype(np.float32)
    reps = base[:30] + rng.standard_normal((30, 16)).astype(np.float32) * 0.01
    vecs = np.vstack([base, reps])
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    got = embedding_near_dup(df, threshold=0.98, n_cells=6, n_probe=2, seed=3).toPandas()
    got_pairs = set(zip(got.id_a, got.id_b))
    true_pairs = {(i, 100 + i) for i in range(30)}
    hit = sum(1 for p in true_pairs if p in got_pairs)
    assert hit / len(true_pairs) >= 0.9, f"near-dup recall {hit}/30"
    with pytest.raises(ValueError, match="threshold"):
        embedding_near_dup(df, threshold=0.0)


def _uf_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Independent union-find oracle: node -> component-min representative."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(0, 30, 20), (1, 60, 90), (2, 40, 39)])
def test_connected_components_vs_union_find(spark, seed, n_nodes, n_edges):
    """Random pair graphs (sparse / dense / tree-ish) against a union-find
    oracle: every node maps to its component-min representative."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, n_nodes, n_edges)
    b = rng.integers(0, n_nodes, n_edges)
    pairs = [(int(x), int(y)) for x, y in zip(a, b) if x != y]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["id_a", "id_b"]))
    got = connected_components(df).toPandas()
    want = _uf_components(pairs)
    assert dict(zip(got.node_id, got.cluster_rep)) == want
    assert len(got) == len(want), "one row per node, reps included"


def test_connected_components_chain_converges_fast(spark):
    """A 64-node path graph is the adversarial case for naive min-label
    propagation (O(n) rounds); the alternating algorithm must resolve it
    well inside its O(log^2 n) bound — pinned at max_iterations=15."""
    pairs = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(pd.DataFrame(pairs, columns=["id_a", "id_b"]))
    got = connected_components(df, max_iterations=15).toPandas()
    assert set(got.node_id) == set(range(64))
    assert (got.cluster_rep == 0).all()


def test_connected_components_empty(spark):
    df = spark.createDataFrame(pd.DataFrame({"id_a": [7], "id_b": [7]}))
    assert connected_components(df).count() == 0  # self-pairs are not edges


def test_dedup_survivors(spark):
    """Two clusters {0,1,3} (BASE/NEAR/BASE-dup) via near-dup pairs at a low
    threshold; survivors = cluster reps + the unpaired doc."""
    docs = _docs(spark)
    pairs = near_dup_pairs(docs, threshold=0.5, n_hashes=8, bands=4, shingle_k=3)
    comps = connected_components(pairs.select("id_a", "id_b"))
    kept = sorted(dedup_survivors(docs, comps).toPandas().doc_id)
    assert kept == [0, 2], "rep of {0,1,3} plus the unpaired doc 2"


# ---- test-set decontamination (operators/dedup.py) ----


def test_decontamination_flags_shared_shingles(spark):
    train = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    BASE,                     # shares every shingle with test doc 100
                    FAR,                      # clean
                    "totally unrelated words here today",  # clean
                    "prefix words then " + NEAR,  # shares NEAR's shingles
                ],
            }
        )
    )
    test = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100, 101], "text": [BASE, NEAR]})
    )
    from daily_journal_dataflow_qc_spark.operators.dedup import (
        contaminated_ids,
        decontaminate,
    )

    flagged = sorted(contaminated_ids(train, test).toPandas().doc_id)
    assert flagged == [0, 3]
    clean = sorted(decontaminate(train, test).toPandas().doc_id)
    assert clean == [1, 2]
    # flagged and clean partition the train set
    assert sorted(flagged + clean) == [0, 1, 2, 3]


def test_decontamination_short_doc_whole_text_fallback(spark):
    """Docs under k words shingle to their whole text: a short train doc is
    flagged only by an identical short test doc, never by a long one that
    merely contains its words."""
    from daily_journal_dataflow_qc_spark.operators.dedup import contaminated_ids

    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1], "text": ["hello there", "hello world"]})
    )
    test = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [100, 101],
                "text": ["hello there", "a long doc where hello world appears inside"],
            }
        )
    )
    flagged = sorted(contaminated_ids(train, test).toPandas().doc_id)
    # doc 0: exact short-text match -> flagged. doc 1: its whole-text
    # shingle "hello world" is not among the LONG test doc's 3-shingles.
    assert flagged == [0]


def test_decontamination_is_case_insensitive(spark):
    from daily_journal_dataflow_qc_spark.operators.dedup import contaminated_ids

    train = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "text": [BASE.upper()]})
    )
    test = spark.createDataFrame(pd.DataFrame({"doc_id": [9], "text": [BASE]}))
    assert contaminated_ids(train, test).count() == 1


# ---- Gopher-style repetition signals (operators/textanalysis.py) ----


def test_repetition_metrics_known_values(spark):
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        repetition_metrics,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "a b a b a b",          # 5 2-grams: ab,ba,ab,ba,ab
                "all words here fully unique",
                "solo",                  # < k words: one whole-text gram
            ],
        }
    )
    out = repetition_metrics(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")
    assert out.loc[0, "top_2gram_frac"] == 0.6    # "a b" x3 of 5
    assert out.loc[0, "dup_2gram_frac"] == 0.6    # 2 distinct of 5
    assert out.loc[0, "dup_3gram_frac"] == 0.5    # 2 distinct of 4
    assert out.loc[1, "dup_2gram_frac"] == 0.0
    assert out.loc[1, "top_2gram_frac"] == 0.25   # 4 grams, all unique
    assert out.loc[2, "dup_2gram_frac"] == 0.0
    assert out.loc[2, "top_2gram_frac"] == 1.0


def test_repetition_metrics_matches_python_mirror(spark):
    """Sorted-run fold == collections.Counter mode on arbitrary texts."""
    from collections import Counter

    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        repetition_metrics,
    )

    rng = np.random.RandomState(11)
    vocab = ["alpha", "beta", "gamma", "delta", "beta beta"]
    texts = [
        " ".join(rng.choice(vocab, size=rng.randint(1, 40)))
        for _ in range(60)
    ]
    pdf = pd.DataFrame({"doc_id": range(60), "text": texts})
    got = repetition_metrics(spark.createDataFrame(pdf)).toPandas().set_index("doc_id")

    def grams(t, k):
        w = t.lower().split(" ")
        return (
            [" ".join(w[i : i + k]) for i in range(len(w) - k + 1)]
            if len(w) >= k
            else [" ".join(w)]
        )

    for i, t in enumerate(texts):
        g2, g3 = grams(t, 2), grams(t, 3)
        assert got.loc[i, "top_2gram_frac"] == round(
            max(Counter(g2).values()) / len(g2), 4
        )
        assert got.loc[i, "dup_2gram_frac"] == round(1 - len(set(g2)) / len(g2), 4)
        assert got.loc[i, "dup_3gram_frac"] == round(1 - len(set(g3)) / len(g3), 4)


def test_tfidf_doc_scores_matches_pandas(spark):
    """Spark TF-IDF aggregates == a Counter-based mirror of the same
    published smooth-IDF formula; empty-term docs are absent."""
    import math
    from collections import Counter

    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        tfidf_doc_scores,
    )

    texts = {
        0: "the cat sat on the mat",
        1: "the dog sat on the log",
        2: "completely different words entirely",
        3: "",  # zero non-empty terms -> absent from output
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    got = (
        tfidf_doc_scores(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert 3 not in got.index

    n = len(texts)  # N counts ALL docs (the operator uses df.count())
    dft = Counter()
    for t in texts.values():
        dft.update(set(w for w in t.lower().split(" ") if w))
    for i, t in texts.items():
        terms = [w for w in t.lower().split(" ") if w]
        if not terms:
            continue
        c = Counter(terms)
        ws = [
            (cnt / len(terms)) * (math.log((n + 1) / (dft[term] + 1)) + 1)
            for term, cnt in c.items()
        ]
        assert got.loc[i, "tfidf_mean"] == round(sum(ws) / len(ws), 4)
        assert got.loc[i, "tfidf_max"] == round(max(ws), 4)
        assert got.loc[i, "n_unique_terms"] == len(c)


def _lm_mirror(train_texts, score_texts, k=0.1):
    """Pure-Python mirror of the add-k bigram LM: returns
    {doc_id: (n_tokens, logprob, ppl)} rounded like the operator."""
    import math
    from collections import Counter

    def events(t):
        w = [x for x in t.lower().split(" ") if x]
        return list(zip(["<s>"] + w[:-1], w))

    bg = Counter()
    for t in train_texts.values():
        bg.update(events(t))
    cp = Counter()
    for (p, _), c in bg.items():
        cp[p] += c
    v = len(set(c for _, c in bg))
    out = {}
    for i, t in score_texts.items():
        ev = events(t)
        if not ev:
            continue
        lp = sum(
            math.log((bg.get(e, 0) + k) / (cp.get(e[0], 0) + k * (v + 1)))
            for e in ev
        )
        out[i] = (len(ev), round(lp, 4), round(math.exp(-lp / len(ev)), 4))
    return out


def test_ngram_lm_perplexity_matches_python_mirror(spark):
    """Self-trained bigram-LM perplexity == a Counter-based mirror of the
    same add-k formula; zero-token docs are absent; an in-distribution
    repetitive doc scores lower ppl than an OOV doc."""
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        ngram_lm_perplexity,
    )

    texts = {
        0: "the cat sat on the mat",
        1: "the cat sat on the mat",  # duplicate -> its bigrams dominate
        2: "the cat sat on the log",
        3: "zork blib quux flarn",  # fully OOV vs the cat sentences
        4: "",  # zero tokens -> absent
        5: "solo",  # single token: one (<s>, solo) event
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    got = (
        ngram_lm_perplexity(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert 4 not in got.index
    exp = _lm_mirror(texts, texts)
    for i, (n, lp, ppl) in exp.items():
        assert got.loc[i, "lm_tokens"] == n
        assert got.loc[i, "lm_logprob"] == pytest.approx(lp, abs=2e-4)
        assert got.loc[i, "lm_ppl"] == pytest.approx(ppl, rel=1e-4)
    # the duplicated in-distribution sentence is far more predictable than
    # the OOV one under the corpus LM
    assert got.loc[0, "lm_ppl"] < got.loc[3, "lm_ppl"]


def test_ngram_lm_perplexity_reference_train_df(spark):
    """CCNet shape: train on a reference corpus, score a different frame —
    training counts must come from train_df only (a doc absent from the
    reference scores as OOV)."""
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        ngram_lm_perplexity,
    )

    train = {10: "good clean reference text", 11: "good clean reference prose"}
    score = {0: "good clean reference text", 1: "totally alien tokens here"}
    tdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(train), "text": list(train.values())})
    )
    sdf = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(score), "text": list(score.values())})
    )
    got = (
        ngram_lm_perplexity(sdf, train_df=tdf, broadcast_lm=False)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    exp = _lm_mirror(train, score)
    for i, (n, lp, ppl) in exp.items():
        assert got.loc[i, "lm_tokens"] == n
        assert got.loc[i, "lm_logprob"] == pytest.approx(lp, abs=2e-4)
    assert got.loc[0, "lm_ppl"] < got.loc[1, "lm_ppl"]


# ---------------------------------------------------------------- substring dedup


SPAN_DOCS = {
    0: "x1 x2 x3 x4 x5 a b c d e f g h y1 y2",  # shares the a..h 8-gram with 1
    1: "p q a b c d e f g h r s",
    2: "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",  # unique: no flagged grams
    3: "m n o p q r s t u m n o p q r s t u",  # period-9 WITHIN-doc repeat
    4: "short stuff",  # < k tokens: no grams at all
}


def _span_docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(SPAN_DOCS), "text": list(SPAN_DOCS.values())})
    )


def test_duplicate_spans_known_answers(spark):
    """Hand-checkable fixture: one cross-doc shared 8-gram (docs 0/1), one
    periodic within-doc repeat whose flagged windows tile the WHOLE doc
    (doc 3: grams at pos {1,2,10,11} merge into [1,18] because pos 10 is
    adjacent to the running end 9), one clean doc, one sub-k doc."""
    from daily_journal_dataflow_qc_spark.operators.dedup import duplicate_spans

    spans = (
        duplicate_spans(_span_docs(spark), k=8)
        .toPandas()
        .sort_values(["doc_id", "span_start"])
    )
    got = [
        (int(r.doc_id), int(r.span_start), int(r.span_end), int(r.span_tokens))
        for r in spans.itertuples(index=False)
    ]
    assert got == [(0, 6, 13, 8), (1, 3, 10, 8), (3, 1, 18, 18)]


def test_remove_duplicate_spans(spark):
    from daily_journal_dataflow_qc_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _span_docs(spark)
    out = (
        remove_duplicate_spans(docs, duplicate_spans(docs, k=8))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "cleaned_text"] == "x1 x2 x3 x4 x5 y1 y2"
    assert out.loc[1, "cleaned_text"] == "p q r s"
    assert out.loc[2, "cleaned_text"] == SPAN_DOCS[2]  # untouched passthrough
    assert out.loc[3, "cleaned_text"] == ""  # everything was duplicated
    assert out.loc[4, "cleaned_text"] == SPAN_DOCS[4]
    assert list(out["n_dup_spans"]) == [1, 1, 0, 1, 0]
    assert list(out["dup_tokens"]) == [8, 8, 0, 18, 0]


def test_duplicate_spans_duckdb_parity(spark):
    """Full span-table parity vs a DuckDB mirror that groups the gram
    STRINGS (no hashes) — certifies both the span algebra and the absence
    of xxhash64 collisions at test scale. Exact-dup docs in the synthetic
    corpus guarantee the check is non-vacuous."""
    import duckdb

    from daily_journal_dataflow_qc_spark.operators.dedup import duplicate_spans

    path = "/root/testdata/sf0.001/documents.parquet"
    docs = spark.read.parquet(path)
    got = {
        (int(r.doc_id), int(r.span_start), int(r.span_end))
        for r in duplicate_spans(docs, k=8).toPandas().itertuples(index=False)
    }
    con = duckdb.connect()
    exp = {
        tuple(map(int, row))
        for row in con.sql(
            f"""
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS toks
              FROM read_parquet('{path}')
            ),
            g AS (
              SELECT doc_id, p, array_to_string(toks[p:p+7], ' ') AS gram
              FROM w, UNNEST(range(1, len(toks) - 6)) AS u(p)
              WHERE len(toks) >= 8
            ),
            dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
            fl AS (SELECT doc_id, p FROM g WHERE gram IN (SELECT gram FROM dup)),
            isl AS (
              SELECT doc_id, p,
                     CASE WHEN p > coalesce(max(p + 7) OVER (
                            PARTITION BY doc_id ORDER BY p
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -8) + 1
                          THEN 1 ELSE 0 END AS ni
              FROM fl
            )
            SELECT doc_id, min(p) AS span_start, max(p) + 7 AS span_end
            FROM (SELECT doc_id, p, sum(ni) OVER (
                    PARTITION BY doc_id ORDER BY p) AS island FROM isl)
            GROUP BY doc_id, island
            """
        ).fetchall()
    }
    assert got == exp
    assert len(got) > 0


# ------------------------------------------------------------ line-level dedup


def test_dedup_lines_known_answers(spark):
    from daily_journal_dataflow_qc_spark.operators.dedup import dedup_lines

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "keep me\ncookie banner\nunique zero",
                "cookie banner\nunique one",
                "unique two only",
                None,
                "self\nself",  # within-doc repeat: BOTH copies go
            ],
        }
    )
    out = (
        dedup_lines(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "cleaned_text"] == "keep me\nunique zero"
    assert out.loc[1, "cleaned_text"] == "unique one"
    assert out.loc[2, "cleaned_text"] == "unique two only"
    assert out.loc[3, "cleaned_text"] == ""
    assert out.loc[4, "cleaned_text"] == ""
    assert list(out["n_kept_lines"]) == [2, 1, 1, 0, 0]
    assert list(out["n_removed_lines"]) == [1, 1, 0, 0, 2]


def test_dedup_lines_duckdb_parity(spark):
    """Word-grain run (sep=' ') over the synthetic corpus vs a DuckDB
    mirror that counts line STRINGS — order-preserving reassembly and the
    all-copies-drop rule, plus collision absence at test scale."""
    import duckdb

    from daily_journal_dataflow_qc_spark.operators.dedup import dedup_lines

    path = "/root/testdata/sf0.001/documents.parquet"
    got = (
        dedup_lines(spark.read.parquet(path), sep=" ")
        .select("doc_id", "cleaned_text", "n_kept_lines", "n_removed_lines")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()  # keep a strong ref: a chained temp gets GC-closed
    exp = (
        con.sql(
            f"""
            WITH ln AS (
              SELECT doc_id, u.p, toks[u.p] AS line
              FROM (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM read_parquet('{path}')) w,
                   UNNEST(range(1, len(toks) + 1)) AS u(p)
            ),
            dup AS (SELECT line FROM ln GROUP BY line HAVING count(*) >= 2),
            kept AS (
              SELECT doc_id,
                     string_agg(line, ' ' ORDER BY p) AS cleaned_text,
                     count(*) AS n_kept
              FROM ln WHERE line NOT IN (SELECT line FROM dup)
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(k.cleaned_text, '') AS cleaned_text,
                   CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept_lines,
                   CAST(len(string_split(d.text, ' ')) - coalesce(k.n_kept, 0) AS INT)
                     AS n_removed_lines
            FROM read_parquet('{path}') d LEFT JOIN kept k USING (doc_id)
            """
        )
        .df()
        .set_index("doc_id")
        .sort_index()
    )
    assert got["cleaned_text"].to_dict() == exp["cleaned_text"].to_dict()
    assert got["n_kept_lines"].to_dict() == exp["n_kept_lines"].to_dict()
    assert got["n_removed_lines"].to_dict() == exp["n_removed_lines"].to_dict()
    assert (got["n_removed_lines"] > 0).any()  # non-vacuous


# ------------------------------------------------------------- semantic dedup


def test_semantic_dedup_survivors(spark):
    """Two semantic-duplicate groups + three distinct vectors; full probe
    makes the pair stage exact, so survivors are exactly the component-min
    representatives plus the unpaired rows."""
    from daily_journal_dataflow_qc_spark.operators.similarity import semantic_dedup

    vecs = [
        [1.0, 0.0, 0.0, 0.0],
        [1.0, 0.01, 0.0, 0.0],
        [1.0, 0.0, 0.01, 0.0],  # group {0,1,2}
        [0.0, 1.0, 0.0, 0.0],
        [0.0, 1.0, 0.01, 0.0],  # group {3,4}
        [0.0, 0.0, 1.0, 0.0],
        [0.0, 0.0, 0.0, 1.0],
        [0.7, 0.0, 0.7, 0.0],  # cos vs group0 ~= 0.71 < threshold
    ]
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(vecs)), "embedding": vecs})
    )
    out = semantic_dedup(df, threshold=0.95, n_cells=2, n_probe=2, dim=4)
    assert sorted(r.vec_id for r in out.select("vec_id").collect()) == [0, 3, 5, 6, 7]


def test_dedup_lines_literal_separator(spark):
    """``sep`` is treated literally even when it contains regex
    metacharacters (F.split takes a regex; the operator quotes it)."""
    from daily_journal_dataflow_qc_spark.operators.dedup import dedup_lines

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["keep this. shared tail", "other words. shared tail"],
        }
    )
    out = (
        dedup_lines(spark.createDataFrame(pdf), sep=". ")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "cleaned_text"] == "keep this"
    assert out.loc[1, "cleaned_text"] == "other words"
    assert list(out["n_removed_lines"]) == [1, 1]


def test_dedup_lines_separator_containing_quote_end(spark):
    """A separator containing the literal sequence ``\\E`` must still split
    literally — Java's \\Q..\\E quoting terminates at an embedded \\E, so
    the operator escapes it per segment (Pattern.quote's own rule)."""
    from daily_journal_dataflow_qc_spark.operators.dedup import dedup_lines

    sep = "\\E|"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [f"keep this{sep}shared tail", f"other words{sep}shared tail"],
        }
    )
    out = (
        dedup_lines(spark.createDataFrame(pdf), sep=sep)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert out.loc[0, "cleaned_text"] == "keep this"
    assert out.loc[1, "cleaned_text"] == "other words"
    assert list(out["n_removed_lines"]) == [1, 1]


def test_lm_cache_registry_exposes_persisted_table(spark):
    """``cache_registry`` hands back the persisted LM table so callers
    scoring many corpora can release it explicitly (ADVICE r06)."""
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        ngram_lm_perplexity,
    )

    d = _docs(spark)
    reg: list = []
    out = ngram_lm_perplexity(d, cache_registry=reg)
    out.collect()
    assert len(reg) == 1 and reg[0].is_cached
    reg[0].unpersist(blocking=True)
    assert not reg[0].is_cached


def test_ngram_lm_perplexity_build_runs_no_job(spark):
    """Building the perplexity frame is lazy: the vocab size is a scalar
    subquery, not a driver-side action. Jobs are counted under a job
    group set around the build, then around one action as a control."""
    from daily_journal_dataflow_qc_spark.operators.textanalysis import (
        ngram_lm_perplexity,
    )

    d = _docs(spark)
    sc = spark.sparkContext
    group = "ngram-lm-build"
    tracker = sc.statusTracker()
    reg: list = []
    sc.setJobGroup(group, "ngram_lm_perplexity build")
    try:
        assert list(tracker.getJobIdsForGroup(group)) == []
        out = ngram_lm_perplexity(d, cache_registry=reg)
        assert list(tracker.getJobIdsForGroup(group)) == []
        out.collect()
        assert len(tracker.getJobIdsForGroup(group)) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        for df in reg:
            df.unpersist()


def test_budget_admit_rejects_null_token_counts():
    """A null n_tokens row in the admitted store must fail the budget
    stream with a contract message, not an opaque numpy cast error."""
    from daily_journal_dataflow_qc_spark.streaming.corpus_ingest import (
        _budget_admit_fn,
    )

    admit = _budget_admit_fn({"s0": 100}, 0)

    class _NoState:
        exists = False

        def update(self, v):  # pragma: no cover - not reached on the raise
            pass

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "ts": pd.to_datetime(["2025-06-01", "2025-06-02"], utc=True),
            "n_tokens": [10.0, None],
        }
    )
    with pytest.raises(ValueError, match="null n_tokens"):
        list(admit(("s0",), iter([pdf]), _NoState()))
