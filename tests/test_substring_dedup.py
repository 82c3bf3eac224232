"""Exact-substring repetition across documents (windowed
approximation of suffix-array substring dedup, Lee et al. 2022)."""

from gumbo_pp_spark.operators import textstats as T

SHARED = " ".join(f"s{i}" for i in range(20))  # exactly one 20-word window


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_shared_window_found_at_each_offset(spark):
    docs = _docs(
        spark,
        [
            (1, SHARED + " a1 a2"),   # window at pos 0
            (2, "b0 " + SHARED),      # window at pos 1
            (3, "unrelated " * 25),
        ],
    )
    wins = T.repeated_windows(docs).collect()
    assert len(wins) == 1
    assert (wins[0]["n_docs"], wins[0]["n_occurrences"]) == (2, 2)
    spans = {(r["doc_id"], r["pos"]) for r in T.repeated_spans(docs).collect()}
    assert spans == {(1, 0), (2, 1)}


def test_within_doc_repeat_alone_is_not_cross_doc(spark):
    # the same window twice in ONE doc: n_docs = 1 -> excluded
    docs = _docs(spark, [(1, SHARED + " mid " + SHARED)])
    assert T.repeated_windows(docs).count() == 0


def test_df_cap_drops_hot_window(spark, monkeypatch):
    docs = _docs(spark, [(1, SHARED), (2, SHARED), (3, SHARED)])
    monkeypatch.setattr(T, "DF_CAP", 2)
    assert T.repeated_windows(docs).count() == 0
    monkeypatch.setattr(T, "DF_CAP", 3)
    assert T.repeated_windows(docs).count() == 1


def test_short_docs_contribute_nothing(spark):
    docs = _docs(spark, [(1, "short text"), (2, "short text")])
    assert T.repeated_windows(docs).count() == 0


def test_window_stats_account_for_cap(spark, monkeypatch):
    docs = _docs(spark, [(i, SHARED) for i in range(5)])
    # 5 identical docs, one shared window, 5 occurrences
    monkeypatch.setattr(T, "DF_CAP", 4)
    r = T.repeated_window_stats(docs).first()
    assert (r["n_window_hashes"], r["n_repeated"], r["n_capped"],
            r["occurrences_capped"]) == (1, 1, 1, 5)
    monkeypatch.setattr(T, "DF_CAP", 1024)
    r2 = T.repeated_window_stats(docs).first()
    assert (r2["n_capped"], r2["occurrences_capped"]) == (0, 0)
