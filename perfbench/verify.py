"""Output checks. Each returns ``(attempted, failed, notes)``: results
checked, results that fail, and a short description of each failure
kind. Pure pandas, no Spark, so the benchmark's own tests can plant
faults in small frames."""

from __future__ import annotations

import hashlib

import pandas as pd

KEY = ["conv_id", "turn_idx"]


def tokenized_rows(got: pd.DataFrame, golden: pd.DataFrame) -> tuple[int, int, list[str]]:
    """Committed ``text_tok`` must equal the golden byte for byte per
    (conv_id, turn_idx), every golden turn exactly once. Attempted =
    golden turns; failed = wrong, missing or duplicated turns, plus
    committed turns the golden does not have."""
    notes = []
    dup = int(got.duplicated(KEY).sum())
    if dup:
        notes.append(f"{dup} duplicate turns")
    m = golden.merge(
        got.drop_duplicates(KEY), on=KEY, how="outer", suffixes=("_want", "_got"),
        indicator=True,
    )
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    both = m[m["_merge"] == "both"]
    wrong = int((both["text_tok_want"].fillna("\0") != both["text_tok_got"].fillna("\0")).sum())
    for n, what in ((missing, "missing"), (extra, "unexpected"), (wrong, "wrong text_tok")):
        if n:
            notes.append(f"{n} {what} turns")
    return len(golden), dup + missing + extra + wrong, notes


def sorted_rows(got: pd.DataFrame, golden: pd.DataFrame, text_col: str) -> tuple[int, int, list[str]]:
    """``got`` in file order must be sorted by (conv_id, turn_idx) and,
    row by row, equal the golden tokenized text."""
    att, failed, notes = tokenized_rows(got.rename(columns={text_col: "text_tok"}), golden)
    keys = list(zip(got["conv_id"], got["turn_idx"]))
    unsorted = sum(1 for a, b in zip(keys, keys[1:]) if b < a)
    if unsorted:
        notes.append(f"{unsorted} out-of-order rows")
    return att, failed + unsorted, notes


def bounded_by_twin(
    got: pd.DataFrame, twin: pd.DataFrame, key: list[str], count_col: str | None, what: str
) -> tuple[int, int, list[str]]:
    """Streaming output checked against the batch twin of the same
    operator: every emitted row's key exists in the twin (no invented
    windows or pairs). With ``count_col``, each key is emitted once and
    its count never exceeds the twin's; without, rows are compared as
    multisets (no pair emitted more often than the twin has it).
    Attempted = emitted rows (at least 1, so an empty output fails)."""
    if got.empty:
        return 1, 1, [f"{what}: no rows emitted"]
    m = got.merge(twin, on=key, how="left", suffixes=("", "_twin"), indicator=True)
    invented = int((m["_merge"] == "left_only").sum())
    if count_col:
        dup = int(got.duplicated(key).sum())
        over = int((m[count_col] > m[f"{count_col}_twin"]).sum())
    else:
        dup = 0
        g = got.groupby(key, dropna=False).size().rename("n").reset_index()
        t = twin.groupby(key, dropna=False).size().rename("n_twin").reset_index()
        gt = g.merge(t, on=key, how="left")
        over = int((gt["n"] > gt["n_twin"].fillna(0)).sum())
    notes = [
        f"{what}: {n} {kind} rows"
        for n, kind in ((dup, "duplicate"), (invented, "invented"), (over, "over-count"))
        if n
    ]
    return len(got), dup + invented + over, notes


def sessions_within_twin(got: pd.DataFrame, twin: pd.DataFrame) -> tuple[int, int, list[str]]:
    """Each streamed session lies inside one batch session of the same
    conv_id and has no more detections than it: dropping late rows can
    split or shrink a session but never create or grow one."""
    if got.empty:
        return 1, 1, ["sessions: no rows emitted"]
    rows = got.reset_index(drop=True).reset_index(names="_row")
    m = rows.merge(twin, on="conv_id", suffixes=("", "_twin"))
    inside = m[
        (m["session_start"] >= m["session_start_twin"])
        & (m["session_end"] <= m["session_end_twin"])
        & (m["n_detections"] <= m["n_detections_twin"])
    ]
    bad = len(rows) - inside["_row"].nunique()
    dup = int(got.duplicated(["conv_id", "session_start"]).sum())
    notes = [f"sessions: {bad} invented or over-count sessions"] if bad else []
    if dup:
        notes.append(f"sessions: {dup} duplicate sessions")
    return len(got), bad + dup, notes


SAMPLE_SEED = 42  # sampler.sample_per_column's default seed, which inspect uses


def _md5_rank(column_name: str, value: str) -> str:
    return hashlib.md5("\x1f".join((str(SAMPLE_SEED), column_name, value)).encode()).hexdigest()


def independent_inspect_counts(
    table: pd.DataFrame, columns: list[str], sample_size: int, find_spans
) -> dict[tuple[str, str], int]:
    """The inspect pipeline's (column, info_type) counts recomputed
    without Spark: per column, the ``sample_size`` non-blank string
    values with the smallest md5(seed, column, value) rank, then one
    count per detected span."""
    counts: dict[tuple[str, str], int] = {}
    for c in columns:
        name = f"$.{c}"
        vals = [str(v) for v in table[c].dropna() if str(v).strip(" ") != ""]
        ranked = sorted(vals, key=lambda v: (_md5_rank(name, v), v))[:sample_size]
        for v in ranked:
            for sp in find_spans(v):
                counts[(name, sp.info_type)] = counts.get((name, sp.info_type), 0) + 1
    return counts


def inspect_report(
    column_report: list[dict], want: dict[tuple[str, str], int]
) -> tuple[int, int, list[str]]:
    """The InspectionReport's column report must equal the independent
    counts. Attempted = expected (column, info_type) counts."""
    got = {
        (r["column_name"], it["info_type"]): int(it["count"])
        for r in column_report
        for it in r["info_types"]
    }
    bad = sum(1 for k in set(want) | set(got) if want.get(k) != got.get(k))
    notes = [f"inspect: {bad} counts differ from the independent count"] if bad else []
    return max(1, len(want)), bad, notes
