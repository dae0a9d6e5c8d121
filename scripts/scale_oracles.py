"""Scalable REPLAY oracles for the full-registry sweep (round 9,
verdict task 5).

Two registry plans have primary DuckDB oracles that are deliberately
naive ground truth and stop being runnable around sf1:

- ``asof_click_attribution``: the interval part is a BETWEEN theta
  join — O(clicks × windows) inside DuckDB's uninterruptible
  nested-loop join (>25 min at sf1).
- ``sequence_packing``: the greedy first-fit is a recursive CTE whose
  depth is rows-per-language (~22k at sf1) and whose every step
  re-joins the full ordered table — O(n²) row-ops per language.

This module provides LINEAR replays of the same rules so the sweep
can read 50/50 MATCH with the replay rows labeled as such
(``verify_driver.py`` uses them when ``SCALE_ORACLES=1``):

- the asof replay re-expresses the interval part with the SAME 600 s
  binning arithmetic the engine's range_join uses — window rows
  replicate to every bin they overlap, clicks map to one bin, LEFT
  equi-join on the bin + exact BETWEEN filter (a hash join in DuckDB
  too).  Round 6 first ran this ad-hoc; it is now checked in.
- the sequence_packing replay computes the dense layout and the split
  in SQL (both linear) and replays the greedy fold in plain Python —
  an INDEPENDENT implementation of the recursive CTE's transition
  rule (not the engine's ``_first_fit``, to keep the oracle
  non-circular), O(n) per language.

Equivalence of each replay to its naive primary oracle is itself
hash-proven at sf0.01 in
``tests/test_correctness.py::test_scale_oracles_match_primary``.
"""

from __future__ import annotations

import os
import sys

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from olist_ecommerce_data_warehouse_spark.plans.corpus import (  # noqa: E402
    _SPLIT_SQL,
    SEQ_BUDGET,
    TOKS,
)

# --- asof_click_attribution: bucketized-linear interval replay ------

ASOF_BIN_SEC = 600  # the engine's range_join bin width for this slot

ASOF_REPLAY_SQL = f"""
    WITH clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    ),
    asof_part AS (
        SELECT 'asof' AS kind, c.event_id, c.user_id, c.ts,
               v.view_event_id AS matched_id, v.view_ts AS matched_ts
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND v.view_ts <= c.ts
    ),
    win AS (
        SELECT event_id AS w_id, ts AS w_start,
               ts + INTERVAL 15 MINUTE AS w_end
        FROM events WHERE event_type = 'error'
    ),
    win_bins AS (
        SELECT w_id, w_start, w_end,
               unnest(range(CAST(floor(epoch(w_start) / {ASOF_BIN_SEC}) AS BIGINT),
                            CAST(floor(epoch(w_end) / {ASOF_BIN_SEC}) AS BIGINT) + 1))
                   AS bin
        FROM win
    ),
    click_bins AS (
        SELECT event_id, user_id, ts,
               CAST(floor(epoch(ts) / {ASOF_BIN_SEC}) AS BIGINT) AS bin
        FROM clicks
    ),
    interval_part AS (
        SELECT 'interval' AS kind, c.event_id, c.user_id, c.ts,
               w.w_id AS matched_id, w.w_start AS matched_ts
        FROM click_bins c LEFT JOIN win_bins w
          ON c.bin = w.bin AND c.ts BETWEEN w.w_start AND w.w_end
    )
    SELECT * FROM asof_part UNION ALL SELECT * FROM interval_part
"""


def asof_replay(con) -> pd.DataFrame:
    return con.execute(ASOF_REPLAY_SQL).fetchdf()


# --- sequence_packing: SQL dense layout + linear Python greedy ------

_SEQPACK_BASE_SQL = f"""
    WITH sized AS (
        SELECT doc_id, lang, len({TOKS}) AS n_tokens FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {SEQ_BUDGET} AS BIGINT) AS seq_no,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               % {SEQ_BUDGET} AS BIGINT) AS seq_offset,
           {_SPLIT_SQL} AS split
    FROM sized
    ORDER BY lang, doc_id
"""


def _greedy_fold(n_tokens_in_order: list[int], budget: int) -> tuple[list[int], list[int]]:
    """Independent replay of the primary oracle's recursive-CTE
    transition (NOT the engine's _first_fit — non-circular by
    construction): row 1 gets (0, 0); row i+1 opens a new sequence
    iff the previous doc actually advanced the fill (goff + prev_n >
    0) and the current doc would overflow the budget."""
    seqs: list[int] = []
    offs: list[int] = []
    gseq = goff = 0
    prev_n = None
    for n in n_tokens_in_order:
        if prev_n is not None:
            if goff + prev_n > 0 and goff + prev_n + n > budget:
                gseq, goff = gseq + 1, 0
            else:
                goff = goff + prev_n
        seqs.append(gseq)
        offs.append(goff)
        prev_n = n
    return seqs, offs


def sequence_packing_replay(con) -> pd.DataFrame:
    pdf = con.execute(_SEQPACK_BASE_SQL).fetchdf()
    gseq = pd.Series(0, index=pdf.index, dtype="int64")
    goff = pd.Series(0, index=pdf.index, dtype="int64")
    # dropna=False: a NULL-lang group must fold like any other (Spark
    # windows treat NULL as one partition) — pandas' default silently
    # skips the NaN group, leaving those rows at the 0 defaults and
    # diverging from the engine on corpora with missing lang.
    for _, idx in pdf.groupby("lang", sort=False, dropna=False).groups.items():
        seqs, offs = _greedy_fold(pdf.loc[idx, "n_tokens"].tolist(), SEQ_BUDGET)
        gseq.loc[idx] = seqs
        goff.loc[idx] = offs
    pdf["greedy_seq_no"] = gseq
    pdf["greedy_seq_offset"] = goff
    return pdf


# --- text_lang_id: one-pass feature table + vectorized PEGASOS ------


def text_lang_id_replay(con) -> pd.DataFrame:
    """Linear replay of the text_lang_id oracle (round 9 — the one
    ground truth that outgrew the rig at sf10: DuckDB INLINES the
    corpus-sized ``pgf`` CTE into every one of the unrolled training
    rounds' ~10 references, re-running the feature explode each time
    and spilling past the box's disk).

    The replay materializes the hashed-feature matrix ONCE as a temp
    table (the only corpus-sized explode), replays the QT_ROUNDS
    mini-batch PEGASOS rounds VECTORIZED IN NUMPY over that matrix —
    an implementation of the published transition rule independent of
    both the engine's DataFrame loop and the unrolled SQL (truncating
    divisions toward zero, the semantics Spark ``div`` / DuckDB ``//``
    share) — and assembles the final rows from one more linear SQL
    pass plus the model-sized weight map.  Memory: the feature matrix
    in pandas (~45M rows at sf10, ~1 GB) + one dense 2^20 int64
    weight array (8 MB).  Replay ≡ primary is hash-proven at sf0.01
    by test_scale_oracles_match_primary."""
    import numpy as np

    from olist_ecommerce_data_warehouse_spark.operators.perceptron import FX
    from olist_ecommerce_data_warehouse_spark.operators.quality import (
        QC_BUCKETS,
        QC_W_HALF,
        _weight_sql,
        quality_features_sql,
    )
    from olist_ecommerce_data_warehouse_spark.operators.textdedup import (
        mix32_sql_expr,
    )
    from olist_ecommerce_data_warehouse_spark.plans.text import (
        LANG_ID_LANGS,
        QT_BATCHES,
        QT_C,
        QT_ROUNDS,
        _lang_score_sql,
    )

    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE lri_feats AS
        SELECT doc_id, {quality_features_sql()} AS f FROM documents"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE lri_pfeats AS
        SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
            SELECT doc_id, ({mix32_sql_expr('h')}) % {QC_BUCKETS} AS bucket
            FROM (SELECT doc_id, unnest(f) AS h FROM lri_feats)
        ) GROUP BY doc_id, bucket"""
    )
    pf = con.execute(
        """SELECT p.doc_id, p.bucket, p.cnt,
                  CASE WHEN strpos(d.text, 'data') > 0 THEN 1 ELSE -1 END AS y
           FROM lri_pfeats p JOIN documents d USING (doc_id)"""
    ).fetchdf()

    def tdiv(a, b):
        # truncation toward zero for int64 (numpy // floors)
        return np.sign(a) * (np.abs(a) // b)

    bkt = pf["bucket"].to_numpy(np.int64)
    cnt = pf["cnt"].to_numpy(np.int64)
    yrow = pf["y"].to_numpy(np.int64)
    doc_u, didx = np.unique(pf["doc_id"].to_numpy(np.int64), return_inverse=True)
    n_docs = len(doc_u)
    y_doc = np.zeros(n_docs, np.int64)
    y_doc[didx] = yrow
    doc_bt = ((doc_u % QT_BATCHES) + QT_BATCHES) % QT_BATCHES  # pmod
    row_bt = doc_bt[didx]
    sizes = {int(b): int((doc_bt == b).sum()) for b in range(QT_BATCHES)}

    # Overflow posture (ADVICE r09): the primary engines (Spark ANSI /
    # DuckDB) compute these int64 updates CHECKED and fail loud; numpy
    # wraps silently, so a bound violation would surface only as a
    # hash mismatch.  Assert the headroom bounds before each wrapping
    # site so the replay raises like the engines do.
    cnt_doc = np.zeros(n_docs, np.int64)
    np.add.at(cnt_doc, didx, cnt)
    cnt_doc_max = int(cnt_doc.max()) if n_docs else 0

    w = np.zeros(QC_BUCKETS, np.int64)
    for t in range(1, QT_ROUNDS + 1):
        bt = (t - 1) % QT_BATCHES
        nb = sizes.get(bt, 0)
        shrunk = w - tdiv(w, t)
        if nb == 0:
            w = shrunk
            continue
        m = row_bt == bt
        score = np.zeros(n_docs, np.int64)
        np.add.at(score, didx[m], cnt[m] * w[bkt[m]])
        viol = (doc_bt == bt) & (y_doc * score < FX)
        mv = m & viol[didx]
        g = np.zeros(QC_BUCKETS, np.int64)
        np.add.at(g, bkt[mv], yrow[mv] * cnt[mv])
        gmax = int(np.abs(g).max()) if len(g) else 0
        assert QT_C * FX * gmax < 2**62, (
            f"PEGASOS replay t={t}: QT_C*FX*|g|max = {QT_C * FX * gmax} "
            "would overflow int64 (the primary would have raised)"
        )
        w = shrunk + tdiv(QT_C * FX * g, t * nb)
        wmax = int(np.abs(w).max()) if len(w) else 0
        assert wmax == 0 or cnt_doc_max * wmax < 2**62, (
            f"PEGASOS replay t={t}: per-doc score bound "
            f"cnt_doc_max*|w|max = {cnt_doc_max * wmax} would overflow "
            "int64 in the next score accumulation"
        )

    qt = np.zeros(n_docs, np.int64)
    np.add.at(qt, didx, cnt * w[bkt])
    qt_map = dict(zip(doc_u.tolist(), qt.tolist()))

    score_cols = ",\n               ".join(
        f"{_lang_score_sql(lg)} AS score_{lg}" for lg in LANG_ID_LANGS
    )
    greatest = ", ".join(f"score_{lg}" for lg in LANG_ID_LANGS)
    whens = " ".join(
        f"WHEN score_{lg} THEN '{lg}'" for lg in LANG_ID_LANGS[:-1]
    )
    base = con.execute(
        f"""WITH scored AS (
            SELECT doc_id, lang AS lang_actual,
                   {score_cols},
                   CASE WHEN strpos(text, 'data') > 0 THEN 1 ELSE -1 END AS y
            FROM documents
        ),
        qc AS (
            SELECT doc_id,
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(f, h -> {_weight_sql('h')})),
                       (a, b) -> a + b) AS wsum,
                   len(f) AS n
            FROM lri_feats
        )
        SELECT s.doc_id, s.lang_actual, {greatest},
               CASE greatest({greatest})
                    {whens}
                    ELSE '{LANG_ID_LANGS[-1]}' END AS lang_predicted,
               CAST(qc.n AS BIGINT) AS qc_n_features,
               qc.wsum AS qc_logit_sum,
               CASE WHEN qc.n > 0
                    THEN CAST(qc.wsum AS DOUBLE) / ({QC_W_HALF} * qc.n)
                    ELSE 0.0 END AS qc_score,
               CASE WHEN qc.wsum >= 0 THEN 1 ELSE 0 END AS qc_pass,
               s.y
        FROM scored s JOIN qc USING (doc_id)"""
    ).fetchdf()
    base["qt_logit_sum"] = (
        base["doc_id"].map(qt_map).fillna(0).astype("int64")
    )
    base["qt_pass"] = (base["qt_logit_sum"] >= 0).astype("int32")
    return base


# name -> callable(duckdb_connection) -> pandas DataFrame
SCALE_ORACLES = {
    "asof_click_attribution": asof_replay,
    "sequence_packing": sequence_packing_replay,
    "text_lang_id": text_lang_id_replay,
}
