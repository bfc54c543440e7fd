"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files. The program under test only ever sees the
written files; the closed-form answers the checks compare against are
returned separately (``*_expect``) and never handed to the program.

Inputs are cached per ``(workload, seed, size)`` under the benchmark's
work directory, so repeated runs with one seed generate once.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Cycler physics (per cycle: 5 charge samples, 1 rest, 9 discharge).
#: Discharge voltage steps by 0.125 V, so every linear segment of Q(V)
#: holds exactly one dQ/dV grid point (dv = 0.05) whose central
#: difference lies wholly inside it; the flattest segment (3.7-3.825 V,
#: 3% of capacity) therefore gives a unique dQ/dV argmax at
#: 3.75 V + the cycle's voltage offset, with no ties for float noise to
#: break.
DT_S = 60.0
DIS_V = 4.2 - 0.125 * np.arange(9)
DIS_QFRAC = np.cumsum([0.0, 0.10, 0.14, 0.16, 0.03, 0.12, 0.15, 0.16, 0.14])
N_DIS = len(DIS_V)
PER_CYCLE = 6 + N_DIS
#: IR windows: pre = discharge sample 1, post = samples 2-3 (the first
#: rows at the C/2 current); |median(V_post) - V_pre| = 0.1875 V.
IR_DV = 0.1875
CHG_V = np.array([3.0, 3.3, 3.6, 3.9, 4.2])
CHG_I = 1.5
#: One rated capacity for the fleet: the IR operator looks for the
#: discharge row closest to C/2 = 5 A, which is the third discharge
#: sample of every cell (its current lies in [1.4, 4.2] A).
RATED_AH = 10.0
QC_PLANTS = {"ir_high": 0.45, "ce_low": 0.93}

SIZES = {
    # cells, cycles; live feed: cells, cycles, cycles per file;
    # changelog: snapshot keys, rows per batch, batches
    "cycler": {"tiny": (3, 20, 2, 12, 6, 2000, 20, 3), "full": (24, 160, 12, 36, 12, 50_000, 500, 4)},
    # docs, edit-chain depth; events for the registry queries
    "curation": {"tiny": (300, 3, 2000), "full": (3000, 6, 20_000)},
}
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def cached(work: str, workload: str, seed: int, size: str) -> tuple[str, dict]:
    """Generate (or reuse) the inputs of one workload; return the input
    directory and its metadata (closed-form expectations included)."""
    with open(__file__, "rb") as f:  # a generator change invalidates the cache
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    path = os.path.join(work, "inputs", f"{workload}-{size}-{seed}-{version}")
    meta_path = os.path.join(path, "_META.json")
    if not os.path.exists(meta_path):
        if os.path.exists(path):
            shutil.rmtree(path)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        os.makedirs(tmp)
        meta = GENERATORS[workload](tmp, seed, SIZES[workload][size]) | {"seed": seed}
        with open(os.path.join(tmp, "_META.json"), "w") as f:
            json.dump(meta, f, sort_keys=True)
        os.rename(tmp, path)
    with open(meta_path) as f:
        return path, json.load(f)


# --------------------------------------------------------------- cycler

def _cell_params(rng: np.random.Generator, n_cells: int) -> list[dict]:
    cells = []
    for c in range(n_cells):
        cells.append(
            {
                "cell": f"C{c:04d}",
                "vendor": ("arbin", "neware", "headless")[c % 3],
                # one nominal capacity: the fleet QC's first-vs-last
                # capacity check then never depends on which cell's
                # cycle 1 it picks
                "q0": 3.0,
                "fade": float(rng.uniform(0.0008, 0.0016)),
                "ce": float(rng.uniform(0.985, 0.995)),
                "ir": float(rng.uniform(0.06, 0.15)),
                "dv_step": float(rng.uniform(0.0001, 0.0004)),
                "t0": int(rng.integers(0, 86400)) * 60,
                "plant": None,
            }
        )
    # plant one cell per QC failure mode, at seed-chosen positions
    for plant, idx in zip(QC_PLANTS, rng.choice(n_cells, size=len(QC_PLANTS), replace=False)):
        cells[int(idx)]["plant"] = plant
        if plant == "ir_high":
            cells[int(idx)]["ir"] = QC_PLANTS[plant]
        else:
            cells[int(idx)]["ce"] = QC_PLANTS[plant]
    return cells


def _dis_current(p: dict) -> np.ndarray:
    i2 = 1.0 + IR_DV / p["ir"]
    return np.array([-0.5, -1.0] + [-i2] * (N_DIS - 2))


def cell_frame(p: dict, n_cycles: int, first_cycle: int = 1) -> pd.DataFrame:
    """Canonical-unit samples of one cell (Arbin headers)."""
    n = np.arange(first_cycle, first_cycle + n_cycles, dtype=float)
    qn = p["q0"] * (1.0 - p["fade"] * n)
    qc = qn / p["ce"]
    off = p["dv_step"] * n
    dis_i = _dis_current(p)
    k = len(n)
    cyc = np.repeat(n.astype(np.int64), PER_CYCLE)
    step = np.tile(np.array([1] * 5 + [2] + [3] * N_DIS), k)
    name = np.tile(np.array(["CC CHARGE"] * 5 + ["REST"] + ["CC DISCHARGE"] * N_DIS), k)
    cur = np.tile(np.concatenate([[CHG_I] * 5, [0.0], dis_i]), k)
    volt = np.concatenate(
        [np.concatenate([CHG_V, [CHG_V[-1]], DIS_V + o]) for o in off]
    )
    chg = np.concatenate(
        [np.concatenate([q * (np.arange(1, 6) / 5.0), [q], [q] * N_DIS]) for q in qc]
    )
    dis = np.concatenate(
        [np.concatenate([np.zeros(6), q * DIS_QFRAC]) for q in qn]
    )
    t = p["t0"] + (np.arange(k * PER_CYCLE) + (first_cycle - 1) * PER_CYCLE) * DT_S
    return pd.DataFrame(
        {
            "t": t,
            "Cycle_Index": cyc,
            "Step_Index": step,
            "Step_Name": name,
            "Current(A)": cur,
            "Voltage(V)": volt,
            "Temperature(C)": 25.0,
            "Charge_Capacity(Ah)": chg,
            "Discharge_Capacity(Ah)": dis,
        }
    )


def _date_strings(t: np.ndarray) -> np.ndarray:
    base = np.datetime64("2025-01-01T00:00:00", "s")
    return np.datetime_as_string(base + t.astype("timedelta64[s]"), unit="s")


def vendor_frame(p: dict, a: pd.DataFrame) -> tuple[pd.DataFrame, str]:
    """Render a cell's samples in its vendor's export format."""
    if p["vendor"] == "arbin":
        out = a.drop(columns=["t"])
        out.insert(0, "Date_Time", np.char.replace(_date_strings(a["t"].to_numpy()), "T", " "))
        return out, ","
    if p["vendor"] == "neware":
        return (
            pd.DataFrame(
                {
                    "Record Time": np.char.replace(_date_strings(a["t"].to_numpy()), "T", " "),
                    "Cycle": a["Cycle_Index"],
                    "Step": a["Step_Index"],
                    "Mode": a["Step_Name"].map(
                        {"CC CHARGE": "CHG", "REST": "REST", "CC DISCHARGE": "DCHG"}
                    ),
                    "Current(mA)": -a["Current(A)"] * 1000.0,  # flipped sign
                    "Voltage(mV)": a["Voltage(V)"] * 1000.0,
                    "Capacity Charge(mAh)": a["Charge_Capacity(Ah)"] * 1000.0,
                    "Capacity Discharge(mAh)": a["Discharge_Capacity(Ah)"] * 1000.0,
                }
            ),
            ";",
        )
    return (
        pd.DataFrame(
            {
                "Test Time (s)": a["t"] - a["t"].iloc[0],
                "Cycle_Index": a["Cycle_Index"],
                "Step_Index": a["Step_Index"],
                "Current(A)": a["Current(A)"],
                "Voltage(V)": a["Voltage(V)"],
                "Charge_Capacity(Ah)": a["Charge_Capacity(Ah)"],
                "Discharge_Capacity(Ah)": a["Discharge_Capacity(Ah)"],
            }
        ),
        ",",
    )


def _write_feed(out: str, rng: np.random.Generator, n_cells: int, n_cycles: int, chunk: int) -> dict:
    """A live cycler feed: one Arbin CSV (with a ``cell_id`` column) per
    chunk of cycles over all cells, file mtimes in feed order."""
    cells = _cell_params(rng, n_cells)
    for p in cells:
        p["vendor"], p["plant"] = "arbin", None
    os.makedirs(out)
    rows = 0
    mtime = 1_700_000_000
    for k, first in enumerate(range(1, n_cycles + 1, chunk)):
        parts = []
        for p in cells:
            df, _ = vendor_frame(p, cell_frame(p, min(chunk, n_cycles - first + 1), first))
            df.insert(0, "cell_id", p["cell"])
            parts.append(df)
        df = pd.concat(parts, ignore_index=True)
        path = os.path.join(out, f"chunk_{k:05d}.csv")
        df.to_csv(path, index=False)
        os.utime(path, (mtime + k, mtime + k))
        rows += len(df)
    return {"cells": cells, "n_cycles": n_cycles, "rows": rows}


def _events(rng: np.random.Generator, n: int, users: tuple, first_id: int, t0_us: int, span_us: int) -> pa.Table:
    """``n`` events over ``users`` (user ids drawn with the given
    weights), ids from ``first_id``, times in [t0, t0 + span)."""
    ids, p = users
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(np.sort(t0_us + rng.integers(0, span_us, size=n)), pa.timestamp("us")),
            "user_id": pa.array(rng.choice(ids, size=n, p=p).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n)),
            "value": pa.array(np.round(rng.uniform(0.01, 100.0, size=n), 2)),
        }
    )


def _write_changelog(out: str, rng: np.random.Generator, n_keys: int, batch: int, n_batches: int) -> dict:
    """A standing latest-per-key snapshot (``state/``, one row per key)
    and a changelog of zipf-keyed batches (``feed/``, one parquet file
    per batch, mtimes in feed order) that come after it in time."""
    day = 86_400_000_000
    keys = rng.permutation(n_keys).astype(np.int64) * 3 + 1
    zipf = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    state = _events(rng, n_keys, (keys, None), 0, 1_700_000_000_000_000, day)
    state = state.set_column(2, "user_id", pa.array(keys))  # every key once
    os.makedirs(os.path.join(out, "state"))
    pq.write_table(state, os.path.join(out, "state", "part-00000.parquet"))
    os.makedirs(os.path.join(out, "feed"))
    for k in range(n_batches):
        t = _events(rng, batch, (keys, zipf / zipf.sum()), n_keys + k * batch,
                    1_700_000_000_000_000 + (k + 1) * day, day)
        path = os.path.join(out, "feed", f"batch_{k:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (1_700_000_000 + k, 1_700_000_000 + k))
    return {"keys": n_keys, "rows": batch * n_batches, "batches": n_batches}


def gen_cycler(out: str, seed: int, size: tuple) -> dict:
    """A lab directory: ``<vendor>/<cell>_raw.csv`` exports of a mixed
    fleet, ``feed/``, the live feed of a second set of cells, and
    ``changelog/``, a standing snapshot plus its changelog batches."""
    n_cells, n_cycles, feed_cells, feed_cycles, feed_chunk, keys, batch, n_batches = size
    rng = np.random.default_rng([seed, 1])
    feed = _write_feed(os.path.join(out, "feed"), rng, feed_cells, feed_cycles, feed_chunk)
    changelog = _write_changelog(os.path.join(out, "changelog"), rng, keys, batch, n_batches)
    cells = _cell_params(rng, n_cells)
    rows = 0
    for p in cells:
        os.makedirs(os.path.join(out, p["vendor"]), exist_ok=True)
        df, sep = vendor_frame(p, cell_frame(p, n_cycles))
        df.to_csv(os.path.join(out, p["vendor"], f"{p['cell']}_raw.csv"), sep=sep, index=False)
        rows += len(df)
    return {
        "cells": cells, "n_cycles": n_cycles, "rows": rows, "rated_ah": RATED_AH,
        "feed": feed, "changelog": changelog,
    }


def cycler_expect(cells: list[dict], n_cycles: int) -> pd.DataFrame:
    """Closed-form per-(cell, cycle) features (independent numpy math)."""
    out = []
    n = np.arange(1, n_cycles + 1, dtype=float)
    t = np.arange(N_DIS) * DT_S
    for p in cells:
        qn = p["q0"] * (1.0 - p["fade"] * n)
        dis_i = _dis_current(p)
        off = p["dv_step"] * n
        e = np.array([abs(np.trapz((DIS_V + o) * dis_i, t)) / 3600.0 for o in off])
        out.append(
            pd.DataFrame(
                {
                    "cell_id": p["cell"],
                    "cycle_index": n.astype(np.int64),
                    "Q_dis_Ah": qn,
                    "CE": p["ce"],
                    "IR_C2_ohm": p["ir"],
                    "E_dis_Wh": e,
                    "dQdV_shift_mV": (off - off[0]) * 1000.0,
                }
            )
        )
    return pd.concat(out, ignore_index=True)


# ------------------------------------------------------------- curation

def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(words))


def gen_curation(out: str, seed: int, size: tuple) -> dict:
    """A corpus of unique filler, planted edit chains (each doc a small
    edit of the previous one, so closure needs ~depth rounds) and one
    boilerplate cluster larger than the LSH bucket cap; plus
    ``events.parquet``, 30 days of events of 150 users in the schema of
    the query registry's ``events`` table."""
    n_docs, depth, n_events = size
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zipf_p /= zipf_p.sum()
    texts: list[str] = []
    plants: list[tuple[int, int]] = []  # (doc_a, doc_b) planted near-dup links
    n_chains = max(1, n_docs // 60)
    hot = 100  # > bucket cap (64)
    for _ in range(n_chains):
        words = list(rng.choice(vocab, size=60, p=zipf_p))
        texts.append(" ".join(words))
        for _ in range(depth - 1):
            words = list(words)
            for pos in rng.choice(60, size=2, replace=False):
                words[int(pos)] = str(rng.choice(vocab))
            plants.append((len(texts) - 1, len(texts)))
            texts.append(" ".join(words))
    boiler = " ".join(rng.choice(vocab, size=70, p=zipf_p))
    first_hot = len(texts)
    for i in range(hot):
        texts.append(f"{boiler} {vocab[i % len(vocab)]}")
        if i:
            plants.append((first_hot, len(texts) - 1))
    while len(texts) < n_docs:
        texts.append(" ".join(rng.choice(vocab, size=int(rng.integers(40, 90)), p=zipf_p)))
    ids = rng.permutation(len(texts)).astype(np.int64) * 7 + 11  # sparse ids
    order = rng.permutation(len(texts))  # shuffled file order
    table = pa.table({"doc_id": ids[order], "text": [texts[i] for i in order]})
    pq.write_table(table, os.path.join(out, "corpus.parquet"))
    ev = _events(rng, n_events, (np.arange(150), None), 0, 1_704_067_200_000_000, 30 * 86_400_000_000)
    ev = ev.append_column("props", pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]))
    pq.write_table(ev, os.path.join(out, "events.parquet"))
    return {
        "docs": len(texts),
        "bytes": os.path.getsize(os.path.join(out, "corpus.parquet")),
        "plants": [[int(ids[a]), int(ids[b])] for a, b in plants],
        "events": n_events,
    }


GENERATORS = {"cycler": gen_cycler, "curation": gen_curation}
