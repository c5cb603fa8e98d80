"""Hand-built fixture tests for the analytics composites.

The oracle suite (test_oracle.py) proves Spark == DuckDB on the testdata,
but both sides share the operator's logic *shape* — these tests pin the
semantics against hand-computed answers instead: funnel stage ordering
(a click before the first view must not count), transition-pair tiebreaks
on duplicate timestamps, exact centroid arithmetic, TF-IDF ranking, and
the md5-gated sampling weights.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from arrow_experiments_spark.operators.analytics import (
    embedding_label_centroids,
    events_funnel,
    events_retention_cohort,
    events_transition_matrix,
    pipeline_importance_sample,
    text_tfidf_top_terms,
)

_DAY_NS = 86_400_000_000_000


def _write_events(tmp_path, rows, values=None):
    """rows: (event_id, ts_ns, user_id, event_type) — matches the testdata
    schema including the TIMESTAMP(NANOS) quirk tables.table() handles.
    ``values`` overrides the per-row value column (default all 1.0)."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("ns")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array(values or [1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def _write_documents(tmp_path, rows):
    """rows: (doc_id, text, lang, source, n_chars)."""
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_embeddings(tmp_path, rows):
    """rows: (vec_id, embedding, label)."""
    tbl = pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_funnel_click_before_view_does_not_count(spark, tmp_path):
    us = 1_000  # whole-µs ns offsets (testdata invariant: ns are whole µs)
    sf = _write_events(
        tmp_path,
        [
            # user 1 completes the funnel in order
            (1, 10 * us, 1, "view"),
            (2, 20 * us, 1, "click"),
            (3, 30 * us, 1, "purchase"),
            # user 2's only click precedes their first view
            (4, 5 * us, 2, "click"),
            (5, 10 * us, 2, "view"),
            (6, 20 * us, 2, "purchase"),
            # user 3 stops after the click stage
            (7, 10 * us, 3, "view"),
            (8, 15 * us, 3, "click"),
        ],
    )
    got = {
        r["stage"]: (r["users"], r["conv_from_prev"])
        for r in events_funnel(spark, sf).collect()
    }
    assert got["view"] == (3, None)
    assert got["click"] == (2, pytest.approx(2 / 3))
    # user 2's purchase must not count either: they never reached click
    assert got["purchase"] == (1, pytest.approx(1 / 2))


def test_transition_matrix_duplicate_ts_tiebreak(spark, tmp_path):
    us = 1_000
    sf = _write_events(
        tmp_path,
        [
            # user 1: two events share ts=100µs — event_id orders them
            (1, 100 * us, 1, "view"),
            (2, 100 * us, 1, "click"),
            (3, 200 * us, 1, "purchase"),
            # user 2: a second outgoing edge from 'view'
            (4, 100 * us, 2, "view"),
            (5, 200 * us, 2, "error"),
        ],
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in events_transition_matrix(spark, sf).collect()
    }
    assert got == {
        ("view", "click"): (1, 0.5),
        ("view", "error"): (1, 0.5),
        ("click", "purchase"): (1, 1.0),
    }


def test_retention_cohort_offsets(spark, tmp_path):
    sf = _write_events(
        tmp_path,
        [
            (1, 0, 1, "view"),                      # user 1 day 0
            (2, 2 * _DAY_NS + 1_000, 1, "view"),    # user 1 day 2
            (3, 1 * _DAY_NS, 2, "view"),            # user 2 day 1
            (4, 1 * _DAY_NS + 2_000, 2, "click"),   # same user+day: one row
        ],
    )
    got = {
        (r["cohort_day"], r["day_offset"]): r["users"]
        for r in events_retention_cohort(spark, sf).collect()
    }
    assert got == {
        ("1970-01-01", 0): 1,
        ("1970-01-01", 2): 1,
        ("1970-01-02", 0): 1,
    }


def test_centroids_exact_mean(spark, tmp_path):
    sf = _write_embeddings(
        tmp_path,
        [
            (1, [1.0, 3.0], 0),
            (2, [3.0, 5.0], 0),
            (3, [0.5, -0.5], 1),
        ],
    )
    rows = embedding_label_centroids(spark, sf).collect()
    got = {(r["label"], r["pos"]): (r["n_vectors"], r["c"]) for r in rows}
    assert got[(0, 0)] == (2, 2.0)
    assert got[(0, 1)] == (2, 4.0)
    # floor(-0.5e6) = -500000 exactly — negative values stay exact
    assert got[(1, 0)] == (1, 0.5)
    assert got[(1, 1)] == (1, -0.5)


def test_ivf_cell_sentinel_never_pairs_null_embeddings(spark, tmp_path):
    """r16 verdict #4/#8: ivf_cell_col wraps its kernel in a
    non-nullable coalesce(cell, -1) so the optimizer stops splitting the
    Arrow kernel across an inferred IsNotNull — which also removes the
    optimizer's own null guard from the join key.  The invariant that
    makes the sentinel safe is that every registered caller feeds the
    kernel through _nonzero_embeddings (norm > 0 — null-false, so null
    and zero vectors never reach the kernel or the cell join).  Pin all
    three halves so a future caller that skips the guard goes red:
    (a) the guard drops NULL and all-zero embeddings; (b) a registered
    celled ANN query over such a corpus never emits those rows on either
    join side; (c) the kernel never emits the -1 sentinel for guarded
    input, so sentinel rows cannot pair."""
    from pyspark.sql import functions as F

    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        ann_ivf_codebook,
        ivf_cell_col,
    )

    sf = _write_embeddings(
        tmp_path,
        [
            (1, [1.0, 0.0], 0),
            (2, [0.9, 0.1], 0),
            (3, [1.0, 0.05], 0),
            (11, [0.95, 0.05], 1),
            (96, None, 1),        # NULL embedding: must never pair
            (97, [0.0, 0.0], 1),  # zero vector: norm 0, same guard
        ],
    )
    guarded = _nonzero_embeddings(spark, sf)
    assert sorted(r.vec_id for r in guarded.collect()) == [1, 2, 3, 11]

    rows = ann_ivf_codebook(spark, sf).collect()
    assert rows, "celled query must still produce pairs for valid rows"
    touched = {r.query_id for r in rows} | {r.neighbor_id for r in rows}
    assert 96 not in touched and 97 not in touched

    cells = [
        r.cell
        for r in guarded.select(
            ivf_cell_col(F.col("embedding")).alias("cell")
        ).collect()
    ]
    assert all(c is not None and c >= 0 for c in cells), cells


def test_tfidf_ranks_rare_repeated_term_first(spark, tmp_path):
    sf = _write_documents(
        tmp_path,
        [
            (1, "aa aa bb", "en", "s", 8),
            (2, "bb cc", "en", "s", 5),
        ],
    )
    rows = text_tfidf_top_terms(spark, sf).collect()
    got = {(r["doc_id"], r["rnk"]): (r["term"], r["tf"], r["score"]) for r in rows}
    # N=2; doc 1: aa tf=2 df=1 -> 2*(2/1)=4; bb tf=1 df=2 -> 1
    assert got[(1, 1)] == ("aa", 2, 4.0)
    assert got[(1, 2)] == ("bb", 1, 1.0)
    # doc 2: cc 1*(2/1)=2; bb 1
    assert got[(2, 1)] == ("cc", 1, 2.0)
    assert got[(2, 2)] == ("bb", 1, 1.0)


def test_importance_sample_gate_and_weights(spark, tmp_path):
    docs = [
        (i, "x", "en", "s", n_chars)
        for i, n_chars in enumerate([600, 300, 100] * 40)
    ]
    sf = _write_documents(tmp_path, docs)
    got = {r["doc_id"]: r["weight"] for r in
           pipeline_importance_sample(spark, sf).collect()}

    def gate(doc_id):
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:2], 16)

    for doc_id, _, _, _, n_chars in docs:
        thr = 256 if n_chars >= 500 else 128 if n_chars >= 200 else 64
        if gate(doc_id) < thr:
            assert got[doc_id] == 256 / thr
        else:
            assert doc_id not in got
    # the full-keep band must survive in its entirety
    assert all(i in got for i, *_ in docs if docs[i][4] >= 500)


def test_rollup_gapfill_fills_silent_hours(spark, tmp_path):
    hour_ns = 3_600_000_000_000
    sf = _write_events(
        tmp_path,
        [
            (1, 0, 1, "view"),               # hour 0
            (2, 3 * hour_ns + 1_000, 1, "view"),  # hour 3 — hours 1,2 silent
        ],
    )
    from arrow_experiments_spark.operators.analytics import events_rollup_gapfill

    rows = sorted(
        events_rollup_gapfill(spark, sf).collect(),
        key=lambda r: r["bucket_start"],
    )
    assert [r["bucket_start"][-8:] for r in rows] == [
        "00:00:00", "01:00:00", "02:00:00", "03:00:00",
    ]
    assert [r["n_events"] for r in rows] == [1, 0, 0, 1]
    assert [r["sum_value"] for r in rows] == [1.0, None, None, 1.0]
    # carry-forward bridges the gap
    assert [r["sum_value_ffill"] for r in rows] == [1.0, 1.0, 1.0, 1.0]


def test_funnel_empty_first_stage_yields_null_not_error(spark, tmp_path):
    """ANSI mode turns 0-divisors into runtime errors; the funnel must
    emit NULL conversions instead when an upstream stage is empty."""
    us = 1_000
    sf = _write_events(
        tmp_path,
        [
            (1, 10 * us, 1, "click"),
            (2, 20 * us, 1, "purchase"),
        ],
    )
    got = {
        r["stage"]: (r["users"], r["conv_from_prev"])
        for r in events_funnel(spark, sf).collect()
    }
    assert got["view"] == (0, None)
    assert got["click"] == (0, None)   # 0 / NULLIF(0) -> NULL
    assert got["purchase"] == (0, None)


def test_text_ops_survive_empty_documents(spark, tmp_path):
    """A 100 TB corpus inevitably contains empty documents; under ANSI
    mode a bare ratio would abort the job on the first one.  The text ops
    must emit NULL ratios (language-ID predicting 'other') instead."""
    from arrow_experiments_spark.operators.text import (
        pipeline_training_select,
        text_language_id,
        text_quality_score,
    )

    sf = _write_documents(
        tmp_path,
        [(1, "hello world the end", "en", "s", 19), (2, "", "en", "s", 0)],
    )
    lid = {r["doc_id"]: r for r in text_language_id(spark, sf).collect()}
    assert lid[2]["en_stopword_ratio"] is None
    assert lid[2]["predicted"] == "other"

    q = {r["doc_id"]: r for r in text_quality_score(spark, sf).collect()}
    assert q[2]["n_tokens"] == 0
    assert q[2]["mean_token_len"] is None
    assert q[2]["tokens_per_char"] is None

    # empty docs can't pass the >= 20 token gate, and must not crash it
    assert pipeline_training_select(spark, sf).count() == 0


def test_cosine_ops_exclude_zero_vectors(spark, tmp_path):
    """A zero-norm embedding (failed encode) has no defined cosine; the
    similarity/dedup queries must exclude it at entry rather than abort
    the job under ANSI division."""
    from arrow_experiments_spark.operators.dedup import dedup_embedding_cosine
    from arrow_experiments_spark.operators.similarity import (
        ann_lsh_hyperplane,
        knn_bruteforce_cosine,
    )

    sf = _write_embeddings(
        tmp_path,
        [
            (1, [1.0, 2.0], 0),
            (2, [0.0, 0.0], 0),  # zero vector
            (3, [3.0, 4.0], 0),
            (4, [1.0, 2.1], 0),
        ],
    )
    for op in (knn_bruteforce_cosine, ann_lsh_hyperplane):
        rows = op(spark, sf).collect()
        ids = {r[0] for r in rows} | {r[1] for r in rows}
        assert rows and 2 not in ids, op.__name__
    dd = dedup_embedding_cosine(spark, sf).collect()
    ids = {r["vec_id_a"] for r in dd} | {r["vec_id_b"] for r in dd}
    assert 2 not in ids


def test_shared_ngram_fraction_semantics(spark, tmp_path):
    """Doc 1 and 2 share their single shingle; doc 3 is unique; doc 4 is
    too short for any shingle but must keep a row (the filter still has
    to see it)."""
    from arrow_experiments_spark.operators.text import text_shared_ngram_fraction

    sf = _write_documents(
        tmp_path,
        [
            (1, "alpha beta gamma", "en", "s", 16),
            (2, "alpha beta gamma", "en", "s", 16),
            (3, "delta epsilon zeta", "en", "s", 18),
            (4, "tiny doc", "en", "s", 8),
        ],
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"], r["shared_fraction"])
        for r in text_shared_ngram_fraction(spark, sf).collect()
    }
    assert got[1] == (1, 1, 1.0)
    assert got[2] == (1, 1, 1.0)
    assert got[3] == (1, 0, 0.0)
    assert got[4] == (0, 0, None)


def test_chunk_windows_cover_and_overlap(spark, tmp_path):
    """Chunks tile every token with stride-sized steps: 80 tokens at
    W=32/S=24 -> 4 chunks starting 0/24/48/72, last one 8 tokens; chunk
    hashes of identical windows in different docs agree (ready exact-dedup
    key)."""
    from arrow_experiments_spark.operators.text import (
        _CHUNK_S,
        _CHUNK_W,
        text_chunk_windows,
    )

    words = " ".join(f"w{i}" for i in range(80))
    sf = _write_documents(
        tmp_path,
        [(1, words, "en", "s", len(words)), (2, words, "en", "s", len(words))],
    )
    rows = text_chunk_windows(spark, sf).collect()
    d1 = sorted(
        (r["chunk_id"], r["start_tok"], r["n_chunk_tokens"], r["chunk_hash"])
        for r in rows
        if r["doc_id"] == 1
    )
    assert [(c, s, n) for c, s, n, _ in d1] == [
        (0, 0, 32),
        (1, 24, 32),
        (2, 48, 32),
        (3, 72, 8),
    ]
    # full coverage: every token index < 80 falls in some [start, start+n)
    covered = set()
    for _, s, n, _ in d1:
        covered.update(range(s, s + n))
    assert covered == set(range(80))
    # cross-doc identical windows hash identically
    d2 = sorted(
        (r["chunk_id"], r["start_tok"], r["n_chunk_tokens"], r["chunk_hash"])
        for r in rows
        if r["doc_id"] == 2
    )
    assert d1 == d2
    assert _CHUNK_W > _CHUNK_S  # overlap invariant the doc promises


def test_ann_recall_eval_bounds(spark):
    """Recall is in [0,1], n_exact==3 for every probe on the real table,
    and a probe whose LSH bucket holds its true neighbors scores 1.0
    overall mean recall must be positive (buckets are not adversarial)."""
    from arrow_experiments_spark.operators.similarity import ann_recall_eval

    from conftest import SF_DIR

    rows = ann_recall_eval(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        assert r["n_exact"] == 3
        assert 0 <= r["n_hits"] <= 3
        assert 0.0 <= r["recall"] <= 1.0
    assert sum(r["recall"] for r in rows) > 0


def test_asof_tolerance_nulls_stale_purchase(spark, tmp_path):
    """A purchase 11 minutes before the event is found by plain as-of but
    NULLed by the tolerance variant; a 5-minute-old one survives both."""
    from arrow_experiments_spark.operators.asof import (
        asof_join,
        asof_join_tolerance,
    )

    minute = 60 * 1_000_000 * 1_000  # ns
    sf = _write_events(
        tmp_path,
        [
            (1, 0 * minute, 1, "purchase"),
            (2, 11 * minute, 1, "view"),      # 11 min after purchase 1
            (3, 20 * minute, 2, "purchase"),
            (4, 25 * minute, 2, "view"),      # 5 min after purchase 3
        ],
    )
    plain = {r["event_id"]: r for r in asof_join(spark, sf).collect()}
    tol = {r["event_id"]: r for r in asof_join_tolerance(spark, sf).collect()}
    assert plain[2]["last_purchase_id"] == 1
    assert tol[2]["last_purchase_id"] is None
    assert tol[2]["micros_since_purchase"] is None
    assert plain[4]["last_purchase_id"] == 3
    assert tol[4]["last_purchase_id"] == 3
    assert tol[4]["micros_since_purchase"] == 5 * 60 * 1_000_000


def test_snapshot_upsert_latest_version_wins(spark, tmp_path):
    from arrow_experiments_spark.operators.text import pipeline_snapshot_upsert

    sf = _write_documents(
        tmp_path,
        [
            (10, "a b c", "en", "s", 5),   # delta-revised (doc_id % 10 == 0)
            (11, "d e f", "en", "s", 5),   # base only
        ],
    )
    got = {
        r["doc_id"]: (r["version"], r["n_chars"], r["is_updated"])
        for r in pipeline_snapshot_upsert(spark, sf).collect()
    }
    assert got[10] == (2, 12, True)   # revised row wins, chars re-counted
    assert got[11] == (1, 5, False)
    assert len(got) == 2              # one row per doc — no version dupes


def test_quality_gate_threshold_tracks_corpus(spark, tmp_path):
    """The gate keeps docs >= the corpus p25 of token count — with token
    counts 1..4 the p25 is 1.75, so only the 1-token doc falls."""
    from arrow_experiments_spark.operators.text import (
        pipeline_quality_gate_quantile,
    )

    sf = _write_documents(
        tmp_path,
        [
            (1, "w", "en", "s", 1),
            (2, "w w", "en", "s", 3),
            (3, "w w w", "en", "s", 5),
            (4, "w w w w", "en", "s", 7),
        ],
    )
    rows = pipeline_quality_gate_quantile(spark, sf).collect()
    assert sorted(r["doc_id"] for r in rows) == [2, 3, 4]
    assert all(abs(r["p25"] - 1.75) < 1e-9 for r in rows)


def test_hourly_unique_users_counts_distinct(spark, tmp_path):
    from arrow_experiments_spark.operators.events import (
        events_hourly_unique_users,
    )

    us = 1_000
    sf = _write_events(
        tmp_path,
        [
            (1, 10 * us, 1, "view"),
            (2, 20 * us, 1, "view"),   # same user, same hour
            (3, 30 * us, 2, "click"),
        ],
    )
    rows = events_hourly_unique_users(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_users"] == 2 and r["n_events"] == 3
    assert abs(r["events_per_user"] - 1.5) < 1e-12


def test_null_safe_join_keeps_null_bucket(spark, tmp_path):
    """user_id 7 hashes to the NULL bucket (7 % 7 = 0 → NULL); a plain
    equality join would drop it, the null-safe join must keep it."""
    from arrow_experiments_spark.operators.relational import join_null_safe

    us = 1_000
    sf = _write_events(
        tmp_path,
        [
            (1, 10 * us, 7, "view"),    # NULL bucket
            (2, 20 * us, 1, "view"),    # bucket 1
        ],
    )
    rows = {r["bucket"]: r for r in join_null_safe(spark, sf).collect()}
    assert set(rows) == {None, 1}
    assert rows[None]["n_events"] == 1 and rows[None]["n_users"] == 1


def test_value_histogram_clamps_overflow(spark, tmp_path):
    """Values beyond the top bin edge land in the LAST bin (bounded bin
    vocabulary — the groupBy key can't explode on outliers); negatives
    clamp into bin 0; interior values bin by floor((v-lo)/w)."""
    from arrow_experiments_spark.operators.events import events_value_histogram

    us = 1_000
    sf = _write_events(
        tmp_path,
        [(i, (10 + i) * us, 1, "view") for i in range(4)],
        values=[-3.0, 7.5, 49.99, 1000.0],
    )
    rows = {r["bin"]: r for r in events_value_histogram(spark, sf).collect()}
    assert rows[0]["n"] == 1 and rows[0]["min_value"] == -3.0   # clamped low
    assert rows[1]["n"] == 1                                    # 7.5 // 5 = 1
    assert rows[9]["n"] == 2                                    # top + overflow
    assert rows[9]["max_value"] == 1000.0                       # clamped high
    assert set(rows) == {0, 1, 9}


def test_lang_confusion_shares_sum_to_one(spark, tmp_path):
    from arrow_experiments_spark.operators.text import text_lang_confusion

    sf = _write_documents(
        tmp_path,
        [
            (1, "the cat sat on the mat", "en", "s", 22),   # stopword-rich
            (2, "chat noir dort bien", "fr", "s", 19),      # no EN stopwords
            (3, "qqq zzz www", "en", "s", 11),              # mislabeled-ish
        ],
    )
    rows = text_lang_confusion(spark, sf).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], 0.0)
        by_lang[r["lang"]] += r["label_share"]
    for lang, total in by_lang.items():
        assert abs(total - 1.0) < 1e-12, lang
    got = {(r["lang"], r["predicted"]): r["n"] for r in rows}
    assert got[("en", "en_like")] == 1
    assert got[("en", "other")] == 1
    assert got[("fr", "other")] == 1


def test_time_weighted_avg_locf_semantics(spark, tmp_path):
    """Value 10 holds for 3 minutes, value 40 for 1 minute → TWA
    (10*3 + 40*1) / 4 = 17.5; the final observation carries no weight."""
    from arrow_experiments_spark.operators.events import (
        events_time_weighted_avg,
    )

    minute = 60 * 1_000_000 * 1_000  # ns
    sf = _write_events(
        tmp_path,
        [
            (1, 0 * minute, 1, "view"),
            (2, 3 * minute, 1, "view"),
            (3, 4 * minute, 1, "view"),
        ],
        values=[10.0, 40.0, 999.0],
    )
    rows = events_time_weighted_avg(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 3
    assert r["span_micros"] == 4 * 60 * 1_000_000
    assert abs(r["twa"] - 17.5) < 1e-12


def test_sort_nulls_first_selects_null_rows(spark, tmp_path):
    """ASC NULLS FIRST + limit must pick the NULL-bucket rows before any
    non-null bucket (the limit straddles the boundary)."""
    from arrow_experiments_spark.operators.relational import sort_nulls_ordering

    us = 1_000
    sf = _write_events(
        tmp_path,
        [(i, i * 10 * us, 7 if i < 3 else 1, "view") for i in range(6)],
    )
    rows = sort_nulls_ordering(spark, sf).collect()
    # users 7 → bucket NULL (3 rows); they must lead the ordering
    assert [r["bucket"] for r in rows[:3]] == [None, None, None]
    assert all(r["bucket"] == 1 for r in rows[3:])


def test_lsh_candidates_are_subset_of_exact_pairs(spark):
    """Cross-operator consistency on the real corpus: the two-stage
    LSH-verified pair set must be exactly a subset of the all-pair
    inverted-index scorer's output (LSH can only MISS pairs — any extra
    pair would mean the verify stage applies a different Jaccard), and
    every surviving pair must carry the identical score."""
    from arrow_experiments_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_ngram_jaccard_lsh,
    )

    from conftest import SF_DIR

    def pair_key(r):
        ids = tuple(sorted((r["doc_id_a"], r["doc_id_b"])))
        return ids, round(r["jaccard"], 9)

    exact = dict(map(pair_key, dedup_ngram_jaccard(spark, SF_DIR).collect()))
    lsh = dict(map(pair_key, dedup_ngram_jaccard_lsh(spark, SF_DIR).collect()))
    assert lsh, "LSH stage found no pairs — corpus regression?"
    missing = set(lsh) - set(exact)
    assert not missing, f"LSH emitted pairs the exact scorer lacks: {missing}"
    for ids in lsh:
        assert lsh[ids] == exact[ids], f"score mismatch on {ids}"


def test_time_weighted_avg_single_event_yields_null(spark, tmp_path):
    """A key with one observation has zero span; under ANSI mode a bare
    division would abort the whole job — it must yield NULL instead."""
    from arrow_experiments_spark.operators.events import (
        events_time_weighted_avg,
    )

    us = 1_000
    sf = _write_events(tmp_path, [(1, 10 * us, 1, "view")])
    rows = events_time_weighted_avg(spark, sf).collect()
    assert len(rows) == 1
    assert rows[0]["span_micros"] == 0
    assert rows[0]["twa"] is None


def test_exact_scorer_guard_fires_on_clone_corpus(spark, tmp_path, monkeypatch):
    """The sample-only guard (VERDICT r5 #2): the exact scorers must
    REFUSE a dup-dense corpus whose estimated candidate-pair mass
    exceeds the limit — with a pointer to the bounded
    sibling — and keep working on the base corpus under the same
    limit.  The clone corpus replicates each base document 30×
    (the clone shape of SCALE.md's scale sweeps), which grows in-bucket pair mass
    ~quadratically while the base stays put."""
    import pyspark.sql.functions as F
    import pytest

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        PairMassExceeded,
        dedup_embedding_cosine,
        dedup_ngram_jaccard,
    )
    from conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    reps = F.explode(F.sequence(F.lit(0), F.lit(29))).alias("rep")
    clones = str(tmp_path / "clones")
    docs.select("*", reps).select(
        (F.col("doc_id") + F.col("rep") * max_doc).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" zq"), F.col("rep").cast("string")))
        .alias("text"),
        "lang", "source", "n_chars",
    ).write.parquet(f"{clones}/documents.parquet")
    emb.select("*", reps).select(
        (F.col("vec_id") + F.col("rep") * max_vec).alias("vec_id"),
        "embedding", "label",
    ).write.parquet(f"{clones}/embeddings.parquet")

    # limit sits between the base corpus's pair mass and the clone
    # corpus's (~900× the base): base passes, clones refuse
    monkeypatch.setattr(dedup, "_EXACT_PAIR_LIMIT", 60_000)
    assert dedup_ngram_jaccard(spark, SF_DIR).count() >= 0
    assert dedup_embedding_cosine(spark, SF_DIR).count() >= 0
    with pytest.raises(PairMassExceeded, match="dedup_ngram_jaccard_lsh"):
        dedup_ngram_jaccard(spark, clones)
    with pytest.raises(PairMassExceeded, match="dedup_embedding_topk_grouped"):
        dedup_embedding_cosine(spark, clones)


def test_embedding_topk_delegates_to_grouped(spark):
    """dedup_embedding_topk now IS the grouped physical form (shared
    declared result; the windowed pair-materializing plan out-spilled at
    clone density) — the plan must show the applyInPandas bucket scorer,
    not a window over a materialized pair join."""
    from arrow_experiments_spark.operators.dedup import dedup_embedding_topk
    from conftest import SF_DIR

    df = dedup_embedding_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert df.columns == ["vec_id", "nbr_id", "cos_sim", "rnk"]


def test_twa_bucketed_matches_single_window(spark):
    """The two-level (type, bucket)-keyed TWA must be value-identical to
    the single-window form: LOCF weighting telescopes exactly across any
    time cut, so bucketing is a pure performance re-key."""
    from arrow_experiments_spark.operators.events import (
        events_time_weighted_avg,
        events_time_weighted_avg_bucketed,
    )
    from conftest import SF_DIR_T2

    def key(rows):
        return {
            r["event_type"]: (
                r["n_events"],
                r["span_micros"],
                None if r["twa"] is None else round(r["twa"], 9),
            )
            for r in rows
        }

    single = key(events_time_weighted_avg(spark, SF_DIR_T2).collect())
    bucketed = key(events_time_weighted_avg_bucketed(spark, SF_DIR_T2).collect())
    assert single == bucketed


def test_minhash_estimate_consistent_with_lsh(spark):
    """The signature-agreement estimator must score exactly the LSH
    candidate pair set, with n_agree on [0, 8], jaccard_est = n_agree/8,
    and every signature agreeing for pairs that collide in all 4 bands
    (each band is 2 of the 8 signatures)."""
    from arrow_experiments_spark.operators.dedup import (
        dedup_minhash_estimate,
        dedup_minhash_lsh,
    )
    from conftest import SF_DIR

    est = {
        (r["doc_id_a"], r["doc_id_b"]): (r["n_agree"], r["jaccard_est"])
        for r in dedup_minhash_estimate(spark, SF_DIR).collect()
    }
    lsh = {
        (r["doc_id_a"], r["doc_id_b"]): r["n_shared_bands"]
        for r in dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert est and set(est) == set(lsh)
    for pair, (n_agree, jest) in est.items():
        assert 0 <= n_agree <= 8
        assert jest == n_agree / 8
        # a shared band is 2 agreeing signatures (band_val concatenates
        # two fixed-width 32-char md5 digests, so band equality implies
        # both signatures equal) — agreement is bounded below by the
        # band collisions
        assert n_agree >= 2 * lsh[pair], (pair, n_agree, lsh[pair])
    full = [p for p, b in lsh.items() if b == 4]
    for p in full:
        assert est[p][0] == 8, (p, est[p])


def test_embedding_topk_grouped_bits_knob(spark, monkeypatch):
    """The cell-population bits: a corpus size that derives a non-floor
    bit count (N = 128,000 → 6 bits) must still produce valid bounded
    top-k rows (cos >= 0.3, no self pairs, <= 4 per vector, subset of
    candidate semantics)."""
    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        dedup_embedding_topk_grouped,
    )
    from conftest import SF_DIR_T2

    monkeypatch.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 128_000)
    assert dedup._emb_lsh_bits(spark, SF_DIR_T2) == 6
    rows = dedup_embedding_topk_grouped(spark, SF_DIR_T2).collect()
    assert rows
    per: dict[int, int] = {}
    for r in rows:
        assert r["cos_sim"] >= 0.3
        assert r["vec_id"] != r["nbr_id"]
        per[r["vec_id"]] = per.get(r["vec_id"], 0) + 1
    assert max(per.values()) <= 4


def test_hll_partial_union_mergeable_and_accurate(spark):
    """The sketch-exchange invariants: (a) union-of-partials equals a
    single sketch over all rows — HLL registers are order-insensitive
    maxima, so mergeability is exact, not approximate; (b) estimates land
    within 5% of the exact distinct counts (lgK=12 → ~1.6% RSE)."""
    import pyspark.sql.functions as F

    from arrow_experiments_spark.operators.analytics import (
        hll_partial_union_estimates,
    )
    from arrow_experiments_spark.tables import table
    from conftest import SF_DIR_T2

    got = {r["event_type"]: r["est_users"] for r in
           hll_partial_union_estimates(spark, SF_DIR_T2).collect()}
    ev = table(spark, SF_DIR_T2, "events").select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("uid", F.lit(12))).alias("e")
    ).first()["e"]
    assert got["(all)"] == direct  # exact mergeability
    exact_all = ev.select("uid").distinct().count()
    assert abs(got["(all)"] - exact_all) / exact_all < 0.05
    for r in ev.groupBy("event_type").agg(
        F.count_distinct("uid").alias("n")
    ).collect():
        est = got[r["event_type"]]
        assert abs(est - r["n"]) / r["n"] < 0.05, (r["event_type"], est, r["n"])


def test_hll_sketch_exchange_across_independent_shards(spark, tmp_path):
    """The storage half of the sketch exchange: per-week sketch shards
    written by INDEPENDENT jobs (no shared state between writes), then
    distinct counts answered from the sketch table alone.  Invariants:
    (a) several shards actually exist as separate partition dirs;
    (b) the union across independently-written shards is bit-identical
    to hll_partial_union_estimates (whose own mergeability vs a
    single direct sketch is asserted above) — i.e. how the registers
    were partitioned, persisted, and re-read changes nothing."""
    import os

    from arrow_experiments_spark.operators.analytics import (
        hll_partial_union_estimates,
        write_hll_sketch_shards,
    )
    from conftest import SF_DIR_T2

    import pyspark.sql.functions as F

    out = str(tmp_path / "sketches")
    shards = write_hll_sketch_shards(spark, SF_DIR_T2, out)
    assert len(shards) >= 3, shards
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert len(dirs) == len(shards), (dirs, shards)

    sk = spark.read.parquet(out)
    assert set(sk.columns) >= {"event_type", "sk", "shard"}
    per = sk.groupBy("event_type").agg(F.hll_union_agg("sk").alias("sk"))
    got = {
        r["event_type"]: r["e"]
        for r in per.select(
            "event_type", F.hll_sketch_estimate("sk").alias("e")
        ).collect()
    }
    got["(all)"] = (
        per.agg(F.hll_union_agg("sk").alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("e"))
        .first()["e"]
    )
    want = {
        r["event_type"]: r["est_users"]
        for r in hll_partial_union_estimates(spark, SF_DIR_T2).collect()
    }
    assert got == want  # exact — register maxima, not approximation


def test_hll_registered_queries_emit_bounded_form(spark, tmp_path):
    """r8 verdict #6: the registered HLL pair is hash-checkable — both
    emit (event_type, exact_users, within_bound) where exact_users is
    the true distinct count (DuckDB-reproducible) and within_bound
    asserts the sketch estimate's 5% contract.  The sketch-exchange
    variant must read its exact anchor from the nightly manifest, never
    a raw row, on repeat calls."""
    import json
    import os

    from arrow_experiments_spark.operators.analytics import (
        agg_hll_partial_union,
        agg_hll_sketch_exchange,
        sketch_table_dir,
    )
    from conftest import SF_DIR_T2

    pu = {r["event_type"]: (r["exact_users"], r["within_bound"])
          for r in agg_hll_partial_union(spark, SF_DIR_T2).collect()}
    ex = {r["event_type"]: (r["exact_users"], r["within_bound"])
          for r in agg_hll_sketch_exchange(spark, SF_DIR_T2).collect()}
    assert pu == ex  # same exact anchor, both in bound
    assert "(all)" in pu and len(pu) >= 2
    assert all(ok for _, ok in pu.values())
    # the manifest stores the same exact counts the rollup emitted
    manifest = os.path.join(
        sketch_table_dir(SF_DIR_T2, spark), "_MANIFEST.json"
    )
    with open(manifest) as fh:
        exact = json.load(fh)["exact"]
    assert exact == {k: n for k, (n, _) in ex.items()}


def test_hll_fingerprint_fails_open_on_unstatable_source(tmp_path):
    """ADVICE r8 (medium): an empty/unstatable source dir must be
    un-fingerprintable (None) so the manifest short-circuit never
    matches — staleness detection fails open, not closed."""
    import os

    from arrow_experiments_spark.operators.analytics import (
        _source_fingerprint,
    )

    empty = tmp_path / "no_such_corpus"
    os.makedirs(empty / "events.parquet")  # dir exists but holds no files
    assert _source_fingerprint(str(empty), 12) is None
    assert _source_fingerprint(str(tmp_path / "missing"), 12) is None


def test_sketch_dir_conf_is_namespaced_per_corpus(spark):
    """ADVICE r8: two corpora sharing one sketchDir conf must resolve to
    distinct artifact dirs under it, or they'd clobber each other and
    defeat write-if-absent."""
    from arrow_experiments_spark.operators.analytics import sketch_table_dir

    spark.conf.set("spark.arrowExperimentsSpark.hll.sketchDir", "/w/sketches")
    try:
        a = sketch_table_dir("/corpus/a", spark)
        b = sketch_table_dir("/corpus/b", spark)
        assert a != b
        assert a.startswith("/w/sketches/") and b.startswith("/w/sketches/")
    finally:
        spark.conf.unset("spark.arrowExperimentsSpark.hll.sketchDir")


def test_hll_sketch_shards_write_if_absent(spark, tmp_path):
    """r7 verdict #3: repeat builds must answer from the sketch table
    alone.  A second call with an unchanged source returns the recorded
    shard keys WITHOUT touching the artifacts (mtimes identical — no
    rewrite, no Spark job on the nightly half); refresh=True forces the
    nightly rewrite; and the manifest is stat-sensitive, so touching a
    source file invalidates it."""
    import json
    import os

    from arrow_experiments_spark.operators.analytics import (
        _source_fingerprint,
        write_hll_sketch_shards,
    )
    from conftest import SF_DIR_T2

    out = str(tmp_path / "sketches")
    shards1 = write_hll_sketch_shards(spark, SF_DIR_T2, out)
    manifest = os.path.join(out, "_MANIFEST.json")
    assert os.path.exists(manifest)

    def snapshot() -> dict[str, int]:
        stamps = {}
        for dirpath, _dirs, files in os.walk(out):
            for f in files:
                p = os.path.join(dirpath, f)
                stamps[p] = os.stat(p).st_mtime_ns
        return stamps

    before = snapshot()
    shards2 = write_hll_sketch_shards(spark, SF_DIR_T2, out)
    assert shards2 == shards1
    assert snapshot() == before, "fresh shards were rewritten"

    # the manifest records the fingerprint actually derivable from disk
    with open(manifest) as fh:
        recorded = json.load(fh)
    assert recorded["fingerprint"] == _source_fingerprint(SF_DIR_T2, 12)
    # a different lg_k is a different artifact → rewrite happens
    shards3 = write_hll_sketch_shards(spark, SF_DIR_T2, out, lg_k=11)
    assert shards3 == shards1
    assert snapshot() != before
    # explicit refresh always rewrites
    before = snapshot()
    write_hll_sketch_shards(spark, SF_DIR_T2, out, lg_k=11, refresh=True)
    assert snapshot() != before


def test_curate_corpus_cache_discipline(spark):
    """ADVICE r7: curate_corpus persisted two frames (tokens + corpus)
    that no caller released — repeated builds in one session accumulated
    cached copies.  Now exactly ONE cache entry survives a build (the
    corpus; the token stage is unpersisted once the corpus
    materializes), and a repeat build releases its predecessor instead
    of stacking."""
    from arrow_experiments_spark.operators.dedup import curate_corpus
    from conftest import SF_DIR

    spark.catalog.clearCache()
    cm = spark._jsparkSession.sharedState().cacheManager()
    c1 = curate_corpus(spark, SF_DIR)
    assert cm.cachedData().size() == 1
    c2 = curate_corpus(spark, SF_DIR)
    assert cm.cachedData().size() == 1
    # r8 verdict #3: an unchanged source must be a true cache HIT — the
    # same persisted frame back, zero re-materialization — not an
    # unpersist-and-rebuild of an identical plan (that threw away the
    # warm cache and made every repeat build pay the cold cost).
    assert c2 is c1
    assert c2.storageLevel.useMemory
    key = lambda r: r["doc_id"]  # noqa: E731 — row order is partition-dependent
    assert sorted(c1.collect(), key=key) == sorted(c2.collect(), key=key)
    spark.catalog.clearCache()


def test_curate_corpus_deferred_materialize_discipline(spark):
    """r17 (VERDICT item 3, fewer eager materializations): the composite
    funnel defers the corpus count() — its first eager action fills the
    cache — and releases the parked token persist afterwards.  Pin the
    discipline: (a) the deferred build parks BOTH persists; (b) after an
    action + release_curate_tokens exactly one cache entry survives,
    same as the eager path; (c) release WITHOUT any prior action still
    materializes the corpus first (the count fallback), never releasing
    the HOF barrier under an unfilled cache; (d) rows identical to the
    eager path."""
    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        _is_cache_materialized,
        curate_corpus,
        release_curate_tokens,
    )
    from conftest import SF_DIR

    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()
    cm = spark._jsparkSession.sharedState().cacheManager()

    # (a)+(b): defer, act, release
    c = curate_corpus(spark, SF_DIR, defer_materialize=True)
    assert cm.cachedData().size() == 2  # corpus + parked token stage
    n = c.count()  # the caller's "first eager action"
    release_curate_tokens(spark, SF_DIR)
    assert cm.cachedData().size() == 1
    assert _is_cache_materialized(spark, c)

    # (d): rows identical to the eager path
    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()
    eager = curate_corpus(spark, SF_DIR)
    assert eager.count() == n

    # (c): defer then release with NO action in between — the fallback
    # count must leave a materialized corpus and one entry
    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()
    c2 = curate_corpus(spark, SF_DIR, defer_materialize=True)
    release_curate_tokens(spark, SF_DIR)
    assert cm.cachedData().size() == 1
    assert _is_cache_materialized(spark, c2)
    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()


def test_curate_corpus_eager_hit_releases_leaked_tokens(spark, monkeypatch):
    """A composite that raises between ``curate_corpus(defer_materialize=
    True)`` and ``release_curate_tokens`` leaves the token persist
    parked; the next eager caller's cache hit must restore the eager
    contract: a materialized corpus and one cache entry."""
    import os

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        _is_cache_materialized,
        curate_corpus,
    )
    from arrow_experiments_spark.operators.text import pipeline_curate_end_to_end
    from conftest import SF_DIR

    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()
    cm = spark._jsparkSession.sharedState().cacheManager()

    def boom(*args, **kw):
        raise RuntimeError("injected between defer and release")

    monkeypatch.setattr(dedup, "dedup_keep_canonical", boom)
    with pytest.raises(RuntimeError, match="injected"):
        pipeline_curate_end_to_end(spark, SF_DIR)
    monkeypatch.undo()
    assert cm.cachedData().size() == 2  # corpus + the leaked token stage

    c = curate_corpus(spark, SF_DIR)
    assert cm.cachedData().size() == 1
    assert _is_cache_materialized(spark, c)
    assert dedup._CURATE_CACHE[(id(spark), os.path.abspath(SF_DIR))][2] is None
    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()


@pytest.mark.parametrize("accessor", ["sharedState", "isCachedColumnBuffersLoaded"])
def test_cache_probe_miss_logs_once_and_materializes(spark, monkeypatch, caplog, accessor):
    """A missing JVM cache accessor is found once per SparkContext (one
    warning), answers 'not materialized', and release_curate_tokens
    falls back to an explicit count: the corpus still ends materialized
    with one cache entry."""
    import logging
    from weakref import WeakKeyDictionary

    from arrow_experiments_spark import session
    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        _is_cache_materialized,
        curate_corpus,
        release_curate_tokens,
    )
    from conftest import SF_DIR

    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()
    cm = spark._jsparkSession.sharedState().cacheManager()
    monkeypatch.setattr(session, "_PROBED", WeakKeyDictionary())
    real = dedup.missing_jvm_methods

    def renamed(sc, methods):
        return real(sc, [(c, m + "Gone" if m == accessor else m) for c, m in methods])

    monkeypatch.setattr(dedup, "missing_jvm_methods", renamed)
    with caplog.at_level(logging.WARNING, logger="arrow_experiments_spark"):
        c = curate_corpus(spark, SF_DIR, defer_materialize=True)
        n = c.count()
        assert not _is_cache_materialized(spark, c)  # the fallback answer
        release_curate_tokens(spark, SF_DIR)
    records = [r for r in caplog.records if r.name.startswith("arrow_experiments_spark")]
    assert len(records) == 1, [r.getMessage() for r in records]
    assert accessor in records[0].getMessage()
    monkeypatch.undo()
    assert cm.cachedData().size() == 1
    assert _is_cache_materialized(spark, c)
    assert c.count() == n
    spark.catalog.clearCache()
    dedup._CURATE_CACHE.clear()


def test_curate_corpus_rebuilds_when_source_changes(spark, tmp_path):
    """The warm-reuse path must be fingerprint-guarded: rewriting the
    source corpus invalidates the cached frame and a rebuild reflects
    the new rows (staleness fails open, never serves the old corpus)."""
    import shutil

    from arrow_experiments_spark.operators.dedup import curate_corpus
    from conftest import SF_DIR

    import os
    import pyarrow.parquet as pq
    import pyarrow as pa

    src = os.path.join(SF_DIR, "documents.parquet")
    dst = str(tmp_path / "documents.parquet")
    shutil.copy(src, dst)
    sf = str(tmp_path)

    c1 = curate_corpus(spark, sf)
    n1 = c1.count()
    # append one document and bump mtime — the fingerprint must miss
    t = pq.read_table(src)
    extra = t.slice(0, 1).to_pylist()[0]
    extra["doc_id"] = 10_000_019
    pq.write_table(
        pa.Table.from_pylist(t.to_pylist() + [extra], schema=t.schema), dst
    )
    c2 = curate_corpus(spark, sf)
    assert c2 is not c1
    assert c2.count() == n1 + 1
    c2.unpersist()


def test_curation_funnel_is_monotone_and_stagewise_consistent(spark):
    """The composite curation funnel must be monotone per source
    (n_docs >= n_quality >= n_canonical >= n_selected), cover every
    non-eval source, and exclude the eval source entirely."""
    from arrow_experiments_spark.operators.text import pipeline_curate_end_to_end
    from arrow_experiments_spark.tables import table
    from conftest import SF_DIR

    import pyspark.sql.functions as F

    rows = pipeline_curate_end_to_end(spark, SF_DIR).collect()
    assert rows
    sources = {r["source"] for r in rows}
    assert "src0" not in sources
    want = {
        r["source"]
        for r in table(spark, SF_DIR, "documents")
        .filter(F.col("source") != "src0")
        .select("source")
        .distinct()
        .collect()
    }
    assert sources == want
    for r in rows:
        assert (
            r["n_docs"] >= r["n_quality"] >= r["n_canonical"] >= r["n_selected"]
        ), tuple(r)
    assert sum(r["n_selected"] for r in rows) > 0


def test_semantic_clusters_verdicts_match_reference_rule(spark):
    """dedup_semantic_clusters: recompute the SemDeDup keep rule with
    plain numpy over the whole corpus and require identical verdicts —
    kept=false iff some same-cluster vector at cosine >= tau has
    strictly lower (cos_centroid, vec_id).  Also: exactly one verdict
    row per nonzero vector, the cluster's rank-minimum is always kept,
    and the plan is the one-shuffle grouped-kernel form."""
    import numpy as np

    from arrow_experiments_spark.operators.dedup import (
        _SEMDEDUP_TAU,
        _SEMDEDUP_SCALE,
        dedup_semantic_clusters,
    )
    from arrow_experiments_spark.operators.similarity import _nonzero_embeddings
    from conftest import SF_DIR_T2

    df = dedup_semantic_clusters(spark, SF_DIR_T2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    got = {r["vec_id"]: r for r in df.collect()}

    src = _nonzero_embeddings(spark, SF_DIR_T2).select(
        "vec_id", "embedding", "label"
    ).collect()
    assert len(got) == len(src)

    by_label: dict[int, list] = {}
    for r in src:
        by_label.setdefault(r["label"], []).append(r)
    for label, members in by_label.items():
        ids = np.array([m["vec_id"] for m in members], dtype=np.int64)
        V = np.array([m["embedding"] for m in members], dtype=np.float64)
        m = len(ids)
        c = np.floor(V * _SEMDEDUP_SCALE).astype(np.int64).sum(axis=0).astype(
            np.float64
        ) / float(m * _SEMDEDUP_SCALE)
        n = np.sqrt((V * V).sum(axis=1))
        cosc = np.round((V @ c) / (n * np.sqrt((c * c).sum())), 6)
        order = np.lexsort((ids, cosc))
        rank = np.empty(m, dtype=np.int64)
        rank[order] = np.arange(m)
        S = np.round((V @ V.T) / np.outer(n, n), 6)
        dominated = ((S >= _SEMDEDUP_TAU) & (rank[:, None] < rank[None, :])).any(
            axis=0
        )
        # the rank-minimum is undominatable by construction
        assert not dominated[order[0]]
        for i, vid in enumerate(ids):
            row = got[vid]
            assert row["cluster"] == label
            assert row["kept"] == (not dominated[i]), (
                label,
                vid,
                row["kept"],
            )
            assert abs(row["cos_centroid"] - cosc[i]) < 1e-12
    # the fixture actually exercises both verdicts
    kept = [r["kept"] for r in got.values()]
    assert any(kept) and not all(kept)


def test_semantic_clusters_subcluster_knob(spark, monkeypatch):
    """A corpus size that derives cluster bits > 0 (N = 1,000,000 → 2
    bits) must equal the reference rule applied per (label,
    hyperplane-bucket) subgroup — the equivalent of re-clustering at
    higher k."""
    import numpy as np

    from arrow_experiments_spark.operators import dedup
    from arrow_experiments_spark.operators.dedup import (
        _SEMDEDUP_SCALE,
        _SEMDEDUP_TAU,
        dedup_semantic_clusters,
    )
    from arrow_experiments_spark.operators.similarity import (
        _nonzero_embeddings,
        lsh_bucket_col,
    )
    from conftest import SF_DIR_T2

    import pyspark.sql.functions as F

    monkeypatch.setattr(dedup, "_embeddings_n", lambda spark, sf_dir: 1_000_000)
    assert dedup._semdedup_cluster_bits(spark, SF_DIR_T2) == 2
    got = {
        r["vec_id"]: r
        for r in dedup_semantic_clusters(spark, SF_DIR_T2).collect()
    }

    src = (
        _nonzero_embeddings(spark, SF_DIR_T2)
        .select(
            "vec_id",
            "embedding",
            "label",
            lsh_bucket_col(F.col("embedding"), 0, 2).alias("sub"),
        )
        .collect()
    )
    assert len(got) == len(src)
    groups: dict[tuple, list] = {}
    for r in src:
        groups.setdefault((r["label"], r["sub"]), []).append(r)
    assert len(groups) > 10  # the knob actually split the label vocabulary
    for (label, _sub), members in groups.items():
        ids = np.array([m["vec_id"] for m in members], dtype=np.int64)
        V = np.array([m["embedding"] for m in members], dtype=np.float64)
        m = len(ids)
        c = np.floor(V * _SEMDEDUP_SCALE).astype(np.int64).sum(axis=0).astype(
            np.float64
        ) / float(m * _SEMDEDUP_SCALE)
        n = np.sqrt((V * V).sum(axis=1))
        cn = np.sqrt((c * c).sum())
        cosc = (
            np.round((V @ c) / (n * cn), 6) if cn > 0 else np.zeros(m)
        )
        rank = np.empty(m, dtype=np.int64)
        rank[np.lexsort((ids, cosc))] = np.arange(m)
        S = np.round((V @ V.T) / np.outer(n, n), 6)
        dominated = (
            (S >= _SEMDEDUP_TAU) & (rank[:, None] < rank[None, :])
        ).any(axis=0)
        for i, vid in enumerate(ids):
            assert got[vid]["cluster"] == label
            assert got[vid]["kept"] == (not dominated[i])


def test_train_split_chunks_matches_hashlib_reference(spark):
    """pipeline_train_split_chunks: per-split doc counts must equal an
    independent hashlib recomputation of the md5(doc_id) first-byte
    rule over the chunk-bearing docs, and chunk/token totals must equal
    text_chunk_windows' — i.e. the split partitions the chunk stream
    exactly (leak-safe by construction: split is a function of doc_id)."""
    import hashlib

    from arrow_experiments_spark.operators.text import (
        _SPLIT_TRAIN_LT,
        _SPLIT_VAL_LT,
        pipeline_train_split_chunks,
        text_chunk_windows,
    )
    from conftest import SF_DIR_T2

    got = {r["split"]: r for r in pipeline_train_split_chunks(spark, SF_DIR_T2).collect()}
    chunks = text_chunk_windows(spark, SF_DIR_T2).collect()

    expect = {"train": set(), "val": set(), "test": set()}
    n_chunks = {"train": 0, "val": 0, "test": 0}
    n_tokens = {"train": 0, "val": 0, "test": 0}
    for c in chunks:
        b = hashlib.md5(str(c["doc_id"]).encode()).hexdigest()
        byte0 = int(b[:2], 16)
        split = (
            "train"
            if byte0 < _SPLIT_TRAIN_LT
            else ("val" if byte0 < _SPLIT_VAL_LT else "test")
        )
        expect[split].add(c["doc_id"])
        n_chunks[split] += 1
        n_tokens[split] += c["n_chunk_tokens"]
    for split in ("train", "val", "test"):
        assert got[split]["n_docs"] == len(expect[split]), split
        assert got[split]["n_chunks"] == n_chunks[split], split
        assert got[split]["n_tokens"] == n_tokens[split], split
    # the three splits partition the docs — no doc in two splits
    assert not (expect["train"] & expect["val"])
    assert not (expect["train"] & expect["test"])
    assert not (expect["val"] & expect["test"])


def test_containment_catches_supersets_jaccard_misses(spark):
    """dedup_minhash_containment semantics: every returned pair has
    containment in [0.5, 1] with a < b ordering, containment >= the
    pair's Jaccard by construction (the union dominates the smaller
    set), and the scorer surfaces wrapped-copy pairs whose Jaccard sits
    below the Jaccard default's own threshold shape."""
    from arrow_experiments_spark.operators.dedup import (
        dedup_minhash_containment,
        dedup_ngram_jaccard_lsh,
    )
    from conftest import SF_DIR_T2

    rows = dedup_minhash_containment(spark, SF_DIR_T2).collect()
    assert rows
    for r in rows:
        assert r["doc_id_a"] < r["doc_id_b"]
        assert 0.5 <= r["containment"] <= 1.0 + 1e-9

    jac = {
        (r["doc_id_a"], r["doc_id_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard_lsh(spark, SF_DIR_T2).collect()
    }
    for r in rows:
        j = jac.get((r["doc_id_a"], r["doc_id_b"]))
        if j is not None:
            assert r["containment"] >= j - 1e-9


def test_multiprobe_never_worse_than_single_probe(spark):
    """ann_ivf_multiprobe's candidate set contains the single-probe
    cell's, so at every rank its cosine must be >= ann_ivf_codebook's
    for the same query — probing the runner-up cell can only add
    candidates, never lose them."""
    from arrow_experiments_spark.operators.similarity import (
        ann_ivf_codebook,
        ann_ivf_multiprobe,
    )
    from conftest import SF_DIR_T2

    multi = {
        (r["query_id"], r["rnk"]): r["cos_sim"]
        for r in ann_ivf_multiprobe(spark, SF_DIR_T2).collect()
    }
    single = {
        (r["query_id"], r["rnk"]): r["cos_sim"]
        for r in ann_ivf_codebook(spark, SF_DIR_T2).collect()
    }
    assert multi
    for key, cos in single.items():
        assert key in multi
        assert multi[key] >= cos - 1e-9


def test_multiprobe_recall_dominates_single_probe(spark):
    """ann_recall_eval_multiprobe vs ann_recall_eval_ivf: per probe,
    recall with the runner-up cell probed must be >= single-probe recall
    (the candidate set is a superset), and strictly better for at least
    one probe at the fixture geometry — otherwise the lever would be
    measuring nothing."""
    from arrow_experiments_spark.operators.similarity import (
        ann_recall_eval_ivf,
        ann_recall_eval_multiprobe,
    )
    from conftest import SF_DIR_T2

    mp = {
        r["query_id"]: r["recall"]
        for r in ann_recall_eval_multiprobe(spark, SF_DIR_T2).collect()
    }
    sp = {
        r["query_id"]: r["recall"]
        for r in ann_recall_eval_ivf(spark, SF_DIR_T2).collect()
    }
    assert mp and set(mp) == set(sp)
    assert all(mp[k] >= sp[k] - 1e-9 for k in mp)
    assert any(mp[k] > sp[k] + 1e-9 for k in mp)
