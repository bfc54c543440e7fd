"""The benchmark workloads: one timed pass each, plus untimed checks.

A workload object is bound to one input directory. ``prepare(i)``
(untimed) lays out pass ``i``'s private output directories,
``run(i)`` (timed) calls the package's public functions exactly as a
user would, and ``check(i)`` (untimed) reads pass ``i``'s outputs back
and returns a list of failures.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import sys
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen

from mxene_coin_cell_data_pipeline_spark.functions import dedup, text
from mxene_coin_cell_data_pipeline_spark.operators import fade, features, normalize, qc
from mxene_coin_cell_data_pipeline_spark.plans.queries import QUERIES
from mxene_coin_cell_data_pipeline_spark.sources import cycler_csv
from mxene_coin_cell_data_pipeline_spark.streaming import features as sfeatures
from mxene_coin_cell_data_pipeline_spark.streaming import ingest, run as srun, snapshot

JACCARD_MIN = 0.5
BPE_ROUNDS = 4
#: Registry queries over the generated ``events`` table, one shape
#: each: latest-by-key compaction, sessionizing window, exact
#: percentiles, as-of join, salted two-phase aggregate, JSON extraction.
QUERY_MIX = (
    "o07_latest_by_key",
    "e02_sessionize",
    "a13_percentiles",
    "e01_asof_join",
    "j08_salted_skew_agg",
    "c12_json_extract",
)
#: Calls the package makes internally that a traced run spans too:
#: (module, attribute, span name, force the output at the boundary).
INNER_CALLS = (
    (features, "capacity_ce_per_cycle", "operators.capacity_ce_per_cycle", True),
    (features, "energy_wh_per_cycle", "operators.energy_wh_per_cycle", True),
    (features, "ir_c2_per_cycle", "operators.ir_c2_per_cycle", True),
    (features, "dqdv_peak_per_cycle", "operators.dqdv_peak_per_cycle", True),
    (dedup, "durable_checkpoint", "checkpoint.durable_checkpoint", False),
)


@contextlib.contextmanager
def instrumented(tracer):
    """Span the package's internal calls in ``INNER_CALLS`` by wrapping
    the module attributes the package looks them up by, so traced runs
    go through the same package code as untraced ones."""
    saved = []
    for mod, attr, name, force in INNER_CALLS:
        real = getattr(mod, attr)

        def wrapper(*a, _real=real, _name=name, _force=force, **kw):
            with tracer.span(_name) as s:
                out = _real(*a, **kw)
                return tracer.force(out, s) if _force else out

        saved.append((mod, attr, real))
        setattr(mod, attr, wrapper)
    try:
        yield
    finally:
        for mod, attr, real in saved:
            setattr(mod, attr, real)


def _read_pq(path: str) -> pd.DataFrame:
    return pq.read_table(path).to_pandas()


class Workload:
    def __init__(self, spark, tracer, inp: str, meta: dict, out_root: str):
        self.spark, self.tr = spark, tracer
        self.inp, self.meta, self.out_root = inp, meta, out_root

    def out(self, i: int) -> str:
        return os.path.join(self.out_root, f"pass{i:04d}")

    def prepare(self, i: int) -> None:
        os.makedirs(self.out(i))

    def cleanup(self, i: int) -> None:
        shutil.rmtree(self.out(i), ignore_errors=True)


# --------------------------------------------------------------- cycler

class Cycler(Workload):
    """The lab: vendor CSVs -> canonical parquet -> features -> fade/RUL
    -> fleet QC; then the live feed -> stream normalize -> stateful
    stream energy -> checkpointed parquet; then the changelog -> upsert
    into the standing latest-per-key snapshot."""

    VENDORS = ("arbin", "neware", "headless")

    def __init__(self, *a):
        super().__init__(*a)
        self.rows = self.meta["rows"] + self.meta["feed"]["rows"] + self.meta["changelog"]["rows"]
        self.in_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(self.inp)
            for f in fs
            if f.endswith(".csv") or (f.endswith(".parquet") and r.endswith(os.path.join("changelog", "feed")))
        )
        self.changelog = os.path.join(self.inp, "changelog")
        self.changelog_schema = self.spark.read.parquet(os.path.join(self.changelog, "feed")).schema
        self._snapshot_want = None

    def prepare(self, i: int) -> None:
        super().prepare(i)
        shutil.copytree(os.path.join(self.changelog, "state"), os.path.join(self.out(i), "snapshot"))

    def run(self, i: int) -> dict:
        spark, tr, out = self.spark, self.tr, self.out(i)
        ts_path = os.path.join(out, "timeseries.parquet")
        feat_path = os.path.join(out, "features.parquet")
        with tr.span("sources.read_cycler_csv") as s:
            raws = []
            for v in self.VENDORS:
                raw = cycler_csv.read_cycler_csv(spark, os.path.join(self.inp, v))
                raw = raw.withColumn(
                    "cell_id", F.regexp_extract(F.input_file_name(), r"([A-Za-z0-9]+)_raw\.csv$", 1)
                )
                raws.append(tr.force(raw, s))
        with tr.span("operators.normalize_cycler") as s:
            parts = [normalize.normalize_cycler(r) for r in raws]
            ts = parts[0]
            for p in parts[1:]:
                ts = ts.unionByName(p)
            ts.write.parquet(ts_path)
        tr.after(lambda s=s: s.update(rows_out=spark.read.parquet(ts_path).count()))
        ts = spark.read.parquet(ts_path)
        # the four operators are child spans (see INNER_CALLS); the
        # rest of this span is combine_features, the sort and the write
        with tr.span("operators.full_feature_pipeline"):
            features.full_feature_pipeline(ts, rated_ah=self.meta["rated_ah"], cache=False).write.parquet(feat_path)
        feat = spark.read.parquet(feat_path)
        with tr.span("operators.fade_and_rul"):
            summary = fade.fade_and_rul(feat).toPandas()
        with tr.span("operators.qc_checks"):
            verdict = qc.qc_checks(feat.drop("cell_id")).messages

        with tr.span("streaming.run.run_stream_append_parquet"):
            raw = ingest.read_cycler_stream(
                spark, os.path.join(self.inp, "feed"), max_files_per_trigger=1
            )
            with tr.span("streaming.ingest.normalize_cycler_stream"):
                ts = ingest.normalize_cycler_stream(raw, sign_flip=False)
            en = sfeatures.stream_energy_trapezoid(ts)
            srun.run_stream_append_parquet(
                en, os.path.join(out, "energy"), os.path.join(out, "ckpt_feed")
            )

        with tr.span("streaming.snapshot.run_stream_latest_snapshot") as s:
            changes = (
                spark.readStream.schema(self.changelog_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(self.changelog, "feed"))
            )
            snapshot.run_stream_latest_snapshot(
                changes, os.path.join(out, "snapshot"), key="user_id",
                order_cols=["ts", "event_id"], checkpoint_dir=os.path.join(out, "ckpt_changelog"),
            )
        tr.after(lambda s=s: s.update(state_rows=pq.ParquetDataset(os.path.join(out, "snapshot")).read(
            columns=["user_id"]).num_rows))
        return {"summary": summary, "qc": verdict}

    def check(self, i: int, res: dict) -> list[str]:
        errs = []
        cells = self.meta["cells"]
        got = _read_pq(os.path.join(self.out(i), "features.parquet"))
        exp = gen.cycler_expect(cells, self.meta["n_cycles"])
        if len(got) != len(exp):
            errs.append(f"features: {len(got)} rows, expected {len(exp)}")
        m = exp.merge(got, on=["cell_id", "cycle_index"], suffixes=("", "_got"))
        if len(m) != len(exp):
            errs.append(f"features: {len(exp) - len(m)} (cell, cycle) keys missing")
        for col, tol in (("Q_dis_Ah", 1e-9), ("CE", 1e-9), ("IR_C2_ohm", 1e-9),
                         ("E_dis_Wh", 1e-8), ("dQdV_shift_mV", 1e-6)):
            bad = ~np.isclose(m[col + "_got"].astype(float), m[col], rtol=0, atol=tol)
            if bad.any():
                errs.append(f"features.{col}: {int(bad.sum())} values off")
        summ = res["summary"].set_index("cell_id")
        for p in cells:
            f = p["fade"]
            want = {
                "Q0_Ah": p["q0"] * (1 - f),
                "fade_slope_pct_per_cycle": -100.0 * f / (1 - f),
                "cycles_to_80pct": 0.2 / f + 0.8,
            }
            row = summ.loc[p["cell"]] if p["cell"] in summ.index else None
            for k, v in want.items():
                if row is None or not np.isclose(row[k], v, rtol=1e-7, atol=0):
                    errs.append(f"summary.{k} of {p['cell']}: {None if row is None else row[k]} != {v}")
        # fleet QC: the planted low-CE cell fires the CE check (the fleet
        # IR median stays low); QC of the planted high-IR cell's own rows
        # fires the IR check, and of a clean cell fires nothing
        ce = [p["ce"] for p in cells]
        want_qc = [f"CE outside [0.95,1.05]: min={min(ce):.3f}, max={max(ce):.3f}"]
        if res["qc"] != want_qc:
            errs.append(f"fleet qc: {res['qc']} != {want_qc}")
        feat = self.spark.read.parquet(os.path.join(self.out(i), "features.parquet"))
        for p in (next(c for c in cells if c["plant"] == "ir_high"), next(c for c in cells if not c["plant"])):
            got_qc = qc.qc_checks(feat.filter(F.col("cell_id") == p["cell"]).drop("cell_id")).messages
            want_qc = [f"Median IR_C2 seems high: {p['ir']:.3f} Ω"] if p["plant"] else []
            if got_qc != want_qc:
                errs.append(f"qc of {p['cell']}: {got_qc} != {want_qc}")
        # live feed: the last update per (cell, cycle) is the batch trapezoid
        got = _read_pq(os.path.join(self.out(i), "energy"))
        final = got.sort_values("n_points").groupby(["cell_id", "cycle_index"]).tail(1)
        feed = self.meta["feed"]
        exp = gen.cycler_expect(feed["cells"], feed["n_cycles"])
        m = exp.merge(final, on=["cell_id", "cycle_index"], suffixes=("", "_got"))
        if len(m) != len(exp) or len(final) != len(exp):
            errs.append(f"stream energy: {len(final)} keys, expected {len(exp)}")
        bad = ~np.isclose(m["E_dis_Wh_got"], m["E_dis_Wh"].round(6), rtol=0, atol=1.5e-6)
        if bad.any() or (m["n_points"] != gen.N_DIS).any():
            errs.append(f"stream energy: {int(bad.sum())} cycles differ from the batch value")
        # changelog: the upserted snapshot is the one-shot latest-by-key
        # merge of the standing state and the whole feed (itself checked
        # once against a pandas latest-by-key)
        cols = ["user_id", "event_id", "value"]
        if self._snapshot_want is None:
            rd = self.spark.read
            self._snapshot_want = snapshot.merge_latest_by_key(
                rd.parquet(os.path.join(self.changelog, "state")),
                rd.parquet(os.path.join(self.changelog, "feed")),
                "user_id", ["ts", "event_id"],
            ).select(*cols).toPandas().sort_values("user_id", ignore_index=True)
            allr = pd.concat([_read_pq(os.path.join(self.changelog, d)) for d in ("state", "feed")])
            latest = allr.sort_values(["ts", "event_id"]).groupby("user_id").tail(1)[cols]
            if not latest.sort_values("user_id", ignore_index=True).equals(self._snapshot_want):
                errs.append("merge_latest_by_key differs from the pandas latest-by-key")
        got = _read_pq(os.path.join(self.out(i), "snapshot"))[cols].sort_values("user_id", ignore_index=True)
        if len(got) != self.meta["changelog"]["keys"] or not got.equals(self._snapshot_want):
            errs.append(f"snapshot: {len(got)} rows differ from merge_latest_by_key over state + feed")
        return errs


# ------------------------------------------------------------- curation

_TOKEN = re.compile(text.TOKEN_RE)


def _shingle_set(s: str, n: int = 3) -> set[str]:
    toks = _TOKEN.findall(s.lower())
    return {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}


class Curation(Workload):
    """Corpus -> near-dup pairs -> closure -> survivors -> BPE merge
    table; then the registry's one-shot queries over the events table,
    in seed-shuffled order, each into a noop sink."""

    def __init__(self, *a):
        super().__init__(*a)
        self.corpus = os.path.join(self.inp, "corpus.parquet")
        # every query of the mix reads the whole events table
        self.rows = self.meta["docs"] + self.meta["events"] * len(QUERY_MIX)
        self.in_bytes = self.meta["bytes"] + os.path.getsize(os.path.join(self.inp, "events.parquet")) * len(QUERY_MIX)
        self._texts = None
        self._oracles_checked = False
        self.recall: list[int] = []

    def run(self, i: int) -> dict:
        spark, tr, out = self.spark, self.tr, self.out(i)
        pairs_path = os.path.join(out, "pairs.parquet")
        groups_path = os.path.join(out, "groups.parquet")
        docs = spark.read.parquet(self.corpus)
        with tr.span("functions.dedup.shingles") as s:
            sh = tr.force(dedup.shingles(docs), s)
        with tr.span("functions.dedup.minhash_signatures") as s:
            sig = tr.force(dedup.minhash_signatures(sh), s)
        with tr.span("functions.dedup.lsh_candidate_pairs") as lsh:
            cand = tr.force(dedup.lsh_candidate_pairs(sig), lsh)
        tr.after(lambda: lsh.update(max_bucket=(
            dedup.band_buckets(sig).groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        )))
        with tr.span("functions.dedup.pair_jaccard") as s:
            jac = dedup.pair_jaccard(sh, cand).filter(F.col("jaccard") >= JACCARD_MIN)
            jac.write.parquet(pairs_path)

        def useful(s=s):
            s["rows_out"] = spark.read.parquet(pairs_path).count()
            s["useful_ratio"] = s["rows_out"] / max(1, lsh["rows_out"])

        tr.after(useful)
        with tr.span("functions.dedup.near_dup_groups"):
            groups = dedup.near_dup_groups(spark.read.parquet(pairs_path))
            groups.write.parquet(groups_path)
        groups = spark.read.parquet(groups_path)
        with tr.span("functions.dedup.closure_audit") as s:
            audit = dedup.closure_audit(groups).toPandas()
            s["rows_out"] = len(audit)
        survivors = docs.join(
            groups.filter(F.col("doc_id") != F.col("group_id")), "doc_id", "left_anti"
        )
        with tr.span("functions.text.bpe_train_merges"):
            merges = [r.asDict() for r in text.bpe_train_merges(survivors, rounds=BPE_ROUNDS).collect()]

        order = np.random.default_rng([self.meta["seed"], i]).permutation(len(QUERY_MIX))
        for name in (QUERY_MIX[k] for k in order):
            with tr.span(f"plans.{name}"):
                with tr.span("plans.build"):
                    df = QUERIES[name].spark(spark, self.inp)
                with tr.span("plans.exec"):
                    df.write.format("noop").mode("overwrite").save()
        return {"audit": audit, "merges": merges}

    def texts(self) -> dict[int, str]:
        if self._texts is None:
            t = _read_pq(self.corpus)
            self._texts = dict(zip(t["doc_id"].tolist(), t["text"].tolist()))
        return self._texts

    def check(self, i: int, res: dict) -> list[str]:
        errs = []
        texts = self.texts()
        sets: dict[int, set] = {}

        def sset(d):
            if d not in sets:
                sets[d] = _shingle_set(texts[d])
            return sets[d]

        pairs = _read_pq(os.path.join(self.out(i), "pairs.parquet"))
        bad = 0
        for a, b, j in pairs[["doc_a", "doc_b", "jaccard"]].itertuples(index=False):
            sa, sb = sset(a), sset(b)
            exact = len(sa & sb) / len(sa | sb)
            if a >= b or abs(exact - j) > 1e-12 or exact < JACCARD_MIN:
                bad += 1
        if bad:
            errs.append(f"pairs: {bad} of {len(pairs)} fail the exact Jaccard recompute")
        if pairs.duplicated(["doc_a", "doc_b"]).any():
            errs.append("pairs: duplicates")
        # union-find over the reported pairs
        parent: dict[int, int] = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs[["doc_a", "doc_b"]].itertuples(index=False):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp: dict[int, list[int]] = defaultdict(list)
        for d in list(parent):
            comp[find(d)].append(d)
        want_group = {d: min(ms) for ms in comp.values() for d in ms}
        groups = _read_pq(os.path.join(self.out(i), "groups.parquet"))
        got_group = dict(zip(groups["doc_id"].tolist(), groups["group_id"].tolist()))
        if got_group != want_group:
            errs.append(f"groups differ from union-find ({len(got_group)} vs {len(want_group)} docs)")
        audit = res["audit"].set_index("group_id")
        for g, ms in ((min(ms), ms) for ms in comp.values()):
            sig = sum(((d % dedup._MOD31) * dedup._KNUTH) % dedup._MOD31 for d in ms)
            row = audit.loc[g] if g in audit.index else None
            if row is None or (row["n_docs"], row["min_doc_id"], row["max_doc_id"], row["member_sig"]) != (
                len(ms), min(ms), max(ms), sig
            ):
                errs.append(f"closure_audit row of group {g} wrong")
                break
        if len(audit) != len(comp):
            errs.append(f"closure_audit: {len(audit)} groups, expected {len(comp)}")
        survivors = [t for d, t in texts.items() if want_group.get(d, d) == d]
        words: dict[str, int] = defaultdict(int)
        for t in survivors:
            for w in _TOKEN.findall(t.lower()):
                words[w] += 1
        want = text.bpe_train_merges_py(dict(words), rounds=BPE_ROUNDS)
        if res["merges"] != want:
            errs.append("bpe merge table differs from bpe_train_merges_py over the survivors")
        self.recall.append(
            sum(1 for a, b in self.meta["plants"] if want_group.get(a, a) == want_group.get(b, b))
        )
        if not self._oracles_checked:  # once per run: the inputs do not change
            self._oracles_checked = True
            errs += self.check_oracles()
        return errs

    def check_oracles(self) -> list[str]:
        """Each query of the mix against its registered DuckDB oracle,
        through the repository's oracle comparison."""
        import duckdb

        sys.path.insert(0, os.path.join(gen.ROOT, "tests"))
        from oracle_harness import compare

        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.inp}/events.parquet')")
        errs = []
        for name in QUERY_MIX:
            r = compare(QUERIES[name].spark(self.spark, self.inp), con, QUERIES[name].oracle)
            if not r["match"]:
                errs.append(f"plans.{name}: differs from its oracle: {r['detail']}")
        con.close()
        return errs


WORKLOADS = {"cycler": Cycler, "curation": Curation}
