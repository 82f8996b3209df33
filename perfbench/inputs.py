"""Seeded benchmark inputs, landed as multi-file parquet in arrival order.

Everything derives from ``(seed, live_seconds)`` through
``datagen.gen_transcripts``: the same seed gives byte-identical files.
The transcript table, in arrival order, is cut into two consecutive
parts that both workloads share:

  backlog/backlog-NNNN.parquet  BACKLOG_FILES files of FILE_TURNS turns: the
                                catch-up backlog (tokenize_stream), the
                                stateful backlog (the CEP probe) and the probes'
                                batch table
  live/live-NNNN.parquet        live_files(live_seconds) files of
                                LIVE_FILE_TURNS turns, landed one by one by
                                the open-loop generator (tokenize_stream)
  dict/dict-NNNN.parquet        token-dictionary side stream built from the
                                backlog's detections, one file per backlog
                                file, in event-time order
  golden_tokenized.parquet      (conv_id, turn_idx, text_tok) for backlog and live
  golden_detections.parquet     one row per detected span in the backlog
  manifest.json                 sha256 of every file above

Generation runs in a child process (``python3 perfbench/inputs.py``) so
that the pandas frames never count towards the benchmark process's peak
memory, and it is cached per (seed, size) under ``perfbench/.cache``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")

# 24 backlog files of 1000 turns: a catch-up batch large enough to keep
# every core in the tokenize UDF, small enough that generation and
# goldens for all parts stay near 5 s per seed on one core. Warm-ups
# replay the backlog: a fresh root key per drain showed that repeated
# conversations do not make a drain faster.
FILE_TURNS = 1000
BACKLOG_FILES = 24
BACKLOG_TURNS = BACKLOG_FILES * FILE_TURNS
# Live phase: 12.5 files/s of 48 turns (600 turns/s, ~3% of the seed's
# catch-up throughput on 4 cores), 100 samples over an 8 s live phase.
# Each small file is its own task,
# so the file rate, not the turn rate, sets the tasks per micro-batch
# and how a slow micro-batch feeds the next: with two or three other
# CPU-bound processes on the 4 cores, 25 files/s of 24 turns let the
# landed backlog grow to 60-130 files and live p50 jump from 1.0 s to
# 1.5-3.5 s, while 10-17 files/s stayed at 1.3-1.7 s (backlog 20-40).
LIVE_FILES_PER_S = 12.5
LIVE_FILE_TURNS = 48
TURNS_PER_SF = 2_000_000  # datagen.TURNS_PER_SF, restated so the size is visible here


def live_files(live_seconds: int) -> int:
    return round(LIVE_FILES_PER_S * live_seconds)


def total_turns(live_seconds: int) -> int:
    return BACKLOG_TURNS + live_files(live_seconds) * LIVE_FILE_TURNS


def arrival_order(df):
    """Rows in arrival order: a turn arrives when its conversation's
    running max event time is reached, so late rows (event time 30-60
    min behind) arrive next to their neighbours and are late relative
    to the watermark, while the stream as a whole is time-ordered."""
    df = df.reset_index(drop=True)
    arrival = df.groupby("conv_id", sort=False)["ts"].cummax()
    return df.iloc[arrival.sort_values(kind="stable").index].reset_index(drop=True)


def _write(df, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pa.Table.from_pandas(df.reset_index(drop=True), preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _split(df, n: int, out_dir: str) -> None:
    """``n`` files named ``<dir>-NNNN.parquet``: names stay unique when
    several kinds land in one directory (the file source skips a path
    it has already seen)."""
    os.makedirs(out_dir)
    step = len(df) // n
    kind = os.path.basename(out_dir)
    for i in range(n):
        hi = len(df) if i == n - 1 else (i + 1) * step
        _write(df.iloc[i * step : hi], os.path.join(out_dir, f"{kind}-{i:04d}.parquet"))


def manifest(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def generate(seed: int, live_seconds: int, out_dir: str) -> None:
    """Write the full input set for ``seed`` into ``out_dir`` (which must
    not exist). Pure function of its arguments."""
    sys.path.insert(0, REPO_ROOT)
    from auto_data_tokenize_spark import datagen

    turns = total_turns(live_seconds)
    # datagen truncates TURNS_PER_SF * sf, so aim half a turn above
    df = arrival_order(datagen.gen_transcripts((turns + 0.5) / TURNS_PER_SF, seed=seed))
    if len(df) != turns:
        raise ValueError(f"datagen returned {len(df)} turns, asked for {turns}")
    backlog, live = df.iloc[:BACKLOG_TURNS], df.iloc[BACKLOG_TURNS:]
    os.makedirs(out_dir)
    _split(backlog, BACKLOG_FILES, os.path.join(out_dir, "backlog"))
    _split(live, live_files(live_seconds), os.path.join(out_dir, "live"))
    det = datagen.golden_detections(backlog)
    _write(det, os.path.join(out_dir, "golden_detections.parquet"))
    tok_dict = datagen.token_dictionary(det).sort_values(["ts", "token"], kind="stable")
    _split(tok_dict, BACKLOG_FILES, os.path.join(out_dir, "dict"))
    golden = datagen.golden_tokenized(df)[["conv_id", "turn_idx", "text_tok"]]
    _write(golden, os.path.join(out_dir, "golden_tokenized.parquet"))
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "turns": len(df), "files": manifest(out_dir)}, f, indent=1)


def ensure(seed: int, live_seconds: int) -> str:
    """Cached input directory for (seed, size), generated on a miss by a
    child process and published with an atomic rename."""
    final = os.path.join(CACHE_DIR, f"s{seed}-t{total_turns(live_seconds)}")
    if os.path.exists(os.path.join(final, "manifest.json")):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(CACHE_DIR, exist_ok=True)
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--seed", str(seed),
         "--live-seconds", str(live_seconds), "--out", tmp],
        check=True,
        timeout=300,
    )
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--live-seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.live_seconds, a.out)


if __name__ == "__main__":
    main()
