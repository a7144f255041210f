"""The benchmark workloads: inputs, the timed run, and output checks.

Each workload is a batch job driven in a closed loop (one client, one job
at a time) through the package's public entry points.  Inputs come from
`generate_corpus(rows, n_hours, seed=seed)`; the program sees only those
generated files.  Why each workload is here:

* gather_family -- the write side, all raw-data work.  `cli gather` builds
  21 (day x org) groups with MB-sized Bloom sets; one hot repo holds 30% of
  rows, so per-key hashing, Bloom offsets, the salted key shuffle and its
  skew, the sha guard and the resumable commit dominate, and per-group cost
  is negligible.  Then the hand-rolled two-phase theta and KLL families run
  over ~100 (6-hour x repo) groups, one of them hot: per-group pandas
  groupby at build and a per-group applyInPandas merge.
* search_hourly -- the read side, no raw-data work.  `cli rotate` merges an
  hourly (hour x org) store 12:1 into days and `cli search` probes it with
  half present, half absent keys: store scan, unpack, merge, probe and
  result shaping.

Both invocations share fixed costs (JVM start, input generation), so the
machine's time budget holds two workloads; see perfbench/README.md.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import math
import random
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# KLL normalized rank error envelope used by the package's own tests
# (0.025 at k=200); ties in integer lengths are handled by rank intervals
KLL_RANK_EPS = 5.0
HLL_RSE = 1.04 / math.sqrt(1 << 14)


@dataclass
class Checks:
    """Named pass/fail outcomes of one workload's output checks."""

    results: list[tuple[str, bool, str]] = field(default_factory=list)
    diag: dict = field(default_factory=dict)

    def add(self, name: str, ok: bool, detail: str = "") -> None:
        self.results.append((name, bool(ok), detail))

    @property
    def failed(self) -> list[tuple[str, bool, str]]:
        return [r for r in self.results if not r[1]]


@dataclass
class Ctx:
    spark: object
    seed: int
    sizes: dict
    tracer: object = None

    def span(self, name: str, layer: str = "run"):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, layer)


def cli(ctx: Ctx, *argv: str) -> None:
    """Run one `honas_spark` CLI command in-process, its chatter kept off
    stdout (the benchmark's last stdout line is its result)."""
    from honas_spark import cli as honas_cli

    buf = io.StringIO()
    with ctx.span(f"cli.{argv[0]}", "cli"), contextlib.redirect_stdout(buf):
        rc = honas_cli.main(list(argv))
    if rc != 0:
        raise RuntimeError(f"cli {argv[0]} exited {rc}: {buf.getvalue()[-500:]}")


def write_corpus(ctx: Ctx, path: Path, rows: int, hours: int) -> None:
    from pyspark.sql import functions as F
    from honas_spark.sources.corpus import generate_corpus

    generate_corpus(ctx.spark, rows, n_hours=hours, seed=ctx.seed).withColumn(
        "org", F.split(F.col("repo"), "/")[0]
    ).write.parquet(str(path))


def keyed(spark, path: str, window: str):
    """The keys `cli gather --entity-col org` derives from the corpus, with
    `window_start` for `window`."""
    from honas_spark.functions.text import explode_keys
    from honas_spark.operators import sha256_key, with_window

    df = spark.read.parquet(path).select("path", "org", "repo", "commit_ts")
    return with_window(
        sha256_key(explode_keys(df, "path", entity_col="org"), "key"),
        "commit_ts", window,
    )


VALUE_BLOBS = ["filters", "hll_clients", "hll_items", "cms", "kll"]


def check_hll(checks: Checks, name: str, est_by_group: dict, exact: dict) -> float:
    """Distinct estimates within 3 RSE (+1 for the integer estimate) of
    Spark's exact counts; returns the largest relative error."""
    worst, bad = 0.0, []
    for g, n in exact.items():
        est = est_by_group.get(g)
        if est is None:
            bad.append((g, "missing"))
            continue
        err = abs(est - n)
        worst = max(worst, err / n)
        if err > 3 * HLL_RSE * n + 1:
            bad.append((g, est, n))
    checks.add(name, not bad, f"{len(bad)} of {len(exact)} groups off: {bad[:3]}")
    return worst


def check_fold(checks: Checks, spec, row, keys, clients) -> None:
    """Bloom, HLL and CMS of one stored group equal a driver-side
    `SketchState.update` fold of the same keys, bit for bit."""
    from honas_spark import kernels as K
    from honas_spark.state import SketchState

    st = SketchState(spec)
    ch = None if clients is None else K.murmur64a_series(np.asarray(clients, dtype=object))
    st.update(list(keys), client_hashes=ch, components=frozenset({"bloom", "hll", "cms"}))
    same = {
        "bloom": np.array_equal(
            st.filters, K.bloom_unpack(row["filters"], spec.num_filters, spec.filter_bytes)
        ),
        "hll_items": np.array_equal(st.hll_items, K.hll_unpack(row["hll_items"])),
        "hll_clients": np.array_equal(st.hll_clients, K.hll_unpack(row["hll_clients"])),
        "cms": np.array_equal(st.cms, K.cms_unpack(row["cms"], spec.cms_depth, spec.cms_width)),
    }
    checks.add("kernel_fold_parity", all(same.values()), f"{len(keys)} keys: {same}")


def check_kll(checks: Checks, name: str, k: int, estimates: dict, values: dict) -> float:
    """Each estimated quantile's exact rank interval lies within eps of q."""
    eps, worst, bad = KLL_RANK_EPS / k, 0.0, []
    for g, qs in estimates.items():
        srt = np.sort(np.asarray(values[g], dtype=np.float64))
        for q, est in qs.items():
            lo = np.searchsorted(srt, est, side="left") / srt.size
            hi = np.searchsorted(srt, est, side="right") / srt.size
            err = max(lo - q, q - hi, 0.0)
            worst = max(worst, err)
            if err > eps:
                bad.append((g, q, est, lo, hi))
    checks.add(name, bool(estimates) and not bad, f"eps {eps:.4f}: {bad[:3]}")
    return worst


def pick(rng: random.Random, groups):
    """A seeded group, preferring one outside the hot org0 (cheap to fold)."""
    cool = sorted(g for g in groups if not any("org0" in v for v in g))
    return rng.choice(cool or sorted(groups))


def _ws_key(g):
    return tuple(str(v) for v in g)


def group_filter(groups, col: str):
    """Rows of the given (str(window_start), value-of-col) groups."""
    from pyspark.sql import functions as F

    cond = F.lit(False)
    for w, v in groups:
        cond = cond | ((F.col("window_start").cast("string") == w) & (F.col(col) == v))
    return cond


class Workload:
    name = ""

    def setup(self, ctx: Ctx, d: Path) -> dict:
        """Inputs made afresh; repeated several times per invocation."""
        state = {"input": str(d / "corpus.parquet"), "rows": ctx.sizes["rows"], "dir": d}
        write_corpus(ctx, Path(state["input"]), ctx.sizes["rows"], ctx.sizes["hours"])
        return state

    def prepare(self, ctx: Ctx, state: dict) -> None:
        """Set-up made once, after the inputs (e.g. a store to search)."""

    def run(self, ctx: Ctx, state: dict, out: Path, run_id: str) -> dict:
        raise NotImplementedError

    def check_run(self, ctx: Ctx, state: dict, out: Path, run_id: str, facts: dict) -> Checks:
        """Cheap checks made on every measured run."""
        return Checks()

    def check_output(self, ctx: Ctx, state: dict, out: Path, facts: dict) -> Checks:
        """Full output checks, made once per invocation; sets store_bytes."""
        raise NotImplementedError


class GatherFamily(Workload):
    """`cli gather` of daily (day x org) sketches, then the theta and KLL
    families over (6-hour x repo) of the hot org's first window."""

    name = "gather_family"

    @staticmethod
    def family_input(ctx, state):
        """org0's rows (one hot repo plus ~100 small ones) in the first
        6-hour window, with content length."""
        from pyspark.sql import functions as F
        from honas_spark.operators import with_window

        df = with_window(ctx.spark.read.parquet(state["input"]), "commit_ts", "6 hours")
        first = F.lit(ctx.sizes["family_window"]).cast("timestamp")
        return df.filter(
            (F.col("org") == "org0") & (F.col("window_start") == first)
        ).withColumn("content_len", F.length("content").cast("double"))

    def run(self, ctx, state, out, run_id):
        from honas_spark.operators.quantiles import quantile_sketch_agg
        from honas_spark.operators.theta import theta_sketch_agg

        cli(
            ctx, "gather", "--input", state["input"], "--output", str(out / "store"),
            "--window", "1 day", "--entity-col", "org", "--client-col", "repo",
            "--filters", "4", "--filters-per-user", "2",
            "--m-bits", str(ctx.sizes["m_bits"]), "--mode", "shuffle_keys",
            "--salt", "8", "--run-id", run_id,
        )
        df = self.family_input(ctx, state)
        gcols = ["window_start", "repo"]
        with ctx.span("family.theta", "run"):
            theta_sketch_agg(df, gcols, "path").write.parquet(str(out / "theta"))
        with ctx.span("family.kll", "run"):
            quantile_sketch_agg(df, gcols, "content_len", "kll", 128).write.parquet(
                str(out / "kll")
            )
        return {}

    def check_run(self, ctx, state, out, run_id, facts):
        from honas_spark.sources import checkpoint as CP

        checks = Checks()
        done = CP.list_done_windows(str(out / "store"))
        stale = [k for k, m in done.items() if m.get("run_id") != run_id]
        checks.add(
            "gather_built_every_window", bool(done) and not stale,
            f"{len(stale)} of {len(done)} windows not built by this run",
        )
        checks.add(
            "family_outputs_written",
            all((out / p / "_SUCCESS").is_file() for p in ("theta", "kll")),
        )
        return checks

    def check_output(self, ctx, state, out, facts):
        from pyspark.sql import functions as F
        from honas_spark import kernels as K
        from honas_spark.sources import checkpoint as CP

        checks = Checks()
        store = str(out / "store")
        spec = CP.read_spec(store)
        table = CP.read_checkpoint(ctx.spark, store)
        gcols = ["window_start", "org"]
        blob_len = sum((F.length(c) for c in VALUE_BLOBS[1:]), F.length(VALUE_BLOBS[0]))
        est, nbytes, key_rows = {}, 0, 0
        for r in table.select(
            *gcols, "hll_items", "hll_clients", blob_len.alias("n"), "n_rows"
        ).collect():
            est[_ws_key((r[0], r[1]))] = (
                K.hll_count(K.hll_unpack(r[2])), K.hll_count(K.hll_unpack(r[3]))
            )
            nbytes += r["n"]
            key_rows += r["n_rows"]
        kd = keyed(ctx.spark, state["input"], "1 day").cache()
        exact = {
            _ws_key((r[0], r[1])): (r[2], r[3])
            for r in kd.groupBy(*gcols).agg(
                F.countDistinct("key_sha"), F.countDistinct("repo")
            ).collect()
        }
        checks.add(
            "gather_groups_match_input", set(est) == set(exact),
            f"{len(est)} committed (day, org) groups, {len(exact)} in the input",
        )
        checks.diag["distinct_err"] = check_hll(
            checks, "hll_items_within_3rse",
            {g: v[0] for g, v in est.items()}, {g: v[0] for g, v in exact.items()},
        )
        check_hll(
            checks, "hll_clients_within_3rse",
            {g: v[1] for g, v in est.items()}, {g: v[1] for g, v in exact.items()},
        )
        cond = group_filter([pick(random.Random(ctx.seed), exact)], "org")
        row = table.filter(cond).collect()[0]
        rows = kd.filter(cond).select("key_sha", "repo").collect()
        check_fold(checks, spec, row, [r[0] for r in rows], [r[1] for r in rows])
        # theta within 3 RSE of exact distinct paths (KMV k=4096: exact
        # below k values), KLL rank error on the biggest and seeded groups
        df = self.family_input(ctx, state)
        fcols = ["window_start", "repo"]
        qcols = ["q_25", "q_50", "q_75", "q_99"]
        theta = ctx.spark.read.parquet(str(out / "theta")).select(
            *fcols, "est_distinct", F.length("sketch").alias("sketch_len")
        )
        kll = ctx.spark.read.parquet(str(out / "kll")).select(*fcols, *qcols)
        exact_f = df.groupBy(*fcols).agg(
            F.countDistinct("path").alias("exact"), F.count(F.lit(1)).alias("rows")
        )
        joined = exact_f.join(theta, fcols, "full_outer").join(kll, fcols, "full_outer").collect()
        rse = 1.0 / math.sqrt(4096 - 2)
        unmatched = [r for r in joined if r["exact"] is None or r["est_distinct"] is None or r["q_50"] is None]
        checks.add("family_groups_match", bool(joined) and not unmatched, f"{len(unmatched)} of {len(joined)}")
        full = [r for r in joined if r not in unmatched]
        off = [r for r in full if abs(r["est_distinct"] - r["exact"]) > 3 * rse * r["exact"] + 1]
        checks.add("theta_within_3rse", not off, f"{len(off)} of {len(full)} groups off")
        checks.diag["theta_err"] = max((abs(r["est_distinct"] - r["exact"]) / r["exact"] for r in full), default=0.0)
        rng = random.Random(ctx.seed)
        picks = sorted(full, key=lambda r: -r["rows"])[:3] + rng.sample(full, min(3, len(full)))
        keys = {_ws_key((r[0], r[1])) for r in picks}
        vals = {}
        for r in df.filter(group_filter(keys, "repo")).select(*fcols, "content_len").collect():
            vals.setdefault(_ws_key((r[0], r[1])), []).append(r[2])
        estimates = {
            _ws_key((r[0], r[1])): dict(zip((0.25, 0.5, 0.75, 0.99), (r[c] for c in qcols)))
            for r in picks
        }
        checks.diag["kll_rank_err"] = check_kll(checks, "kll_rank_error", 128, estimates, vals)
        checks.diag["store_bytes"] = nbytes + sum(r["sketch_len"] or 0 for r in joined)
        # sketch key operations of one run: keys folded by the gather plus
        # the values the two families folded
        checks.diag["keys"] = key_rows + 2 * sum(r["rows"] or 0 for r in joined)
        kd.unpersist()
        return checks


class SearchHourly(Workload):
    """`cli rotate` of an hourly (hour x org) store to days, then `cli
    search` of half present, half absent keys against the hourly store."""

    name = "search_hourly"

    def prepare(self, ctx, state):
        from pyspark.sql import functions as F
        from honas_spark.search import make_search_job

        d = state["dir"]
        state["store"] = str(d / "store_hourly")
        cli(
            ctx, "gather", "--input", state["input"], "--output", state["store"],
            "--window", "1 hour", "--entity-col", "org", "--client-col", "repo",
            "--filters", "4", "--filters-per-user", "2",
            "--m-bits", str(ctx.sizes["m_bits"]), "--mode", "shuffle_keys",
            "--salt", "8", "--run-id", "setup",
        )
        n_half = ctx.sizes["job_keys"] // 2
        kd = keyed(ctx.spark, state["input"], "1 hour")
        present = [
            r[0] for r in kd.select("key").distinct()
            .orderBy(F.xxhash64("key", F.lit(ctx.seed))).limit(n_half).collect()
        ]
        absent = [f"absent-{ctx.seed}/{i}.invalid" for i in range(n_half)]
        allk = present + absent
        random.Random(ctx.seed).shuffle(allk)
        per = ctx.sizes["keys_per_group"]
        job = make_search_job({1 + i // per: allk[i: i + per] for i in range(0, len(allk), per)})
        state["job"] = str(d / "job.json")
        Path(state["job"]).write_text(json.dumps(job))
        state.update(present=present, absent=absent)

    def run(self, ctx, state, out, run_id):
        import time

        cli(
            ctx, "rotate", "--state", state["store"], "--output", str(out / "daily"),
            "--period", "1 day", "--run-id", run_id,
        )
        t0 = time.perf_counter()
        cli(
            ctx, "search", "--state", state["store"], "--job", state["job"],
            "--out", str(out / "result.json"),
        )
        return {"search_s": time.perf_counter() - t0}

    def check_run(self, ctx, state, out, run_id, facts):
        from honas_spark.sources import checkpoint as CP

        checks = Checks()
        res = json.loads((out / "result.json").read_text())
        info = res.get("general_information", [])
        facts["lookups"] = len(info) * (len(state["present"]) + len(state["absent"]))
        facts["hostnames"] = len(res.get("hostnames", []))
        checks.add("search_result_shape", bool(info) and facts["hostnames"] > 0)
        done = CP.list_done_windows(str(out / "daily"))
        checks.add(
            "rotate_built_every_day",
            bool(done) and all(m.get("run_id") == run_id for m in done.values()),
            f"{len(done)} daily windows",
        )
        return checks

    def check_output(self, ctx, state, out, facts):
        from pyspark.sql import functions as F
        from honas_spark import kernels as K
        from honas_spark.sources import checkpoint as CP

        checks = Checks()
        # every present key found in every (hour, org) where it occurs
        res = json.loads((out / "result.json").read_text())
        found = {(h["window_start"], h["org"], h["key"]) for h in res["hostnames"]}
        kd = keyed(ctx.spark, state["input"], "1 hour").withColumn(
            "day", F.window("commit_ts", "1 day")["start"]
        ).cache()
        occ = kd.filter(F.col("key").isin(state["present"])).select(
            "window_start", "org", "key"
        ).distinct().collect()
        missing = [o for o in occ if (o[0].isoformat(), o[1], o[2]) not in found]
        checks.add(
            "search_no_false_negatives", bool(occ) and not missing,
            f"{len(missing)} of {len(occ)} (hour, org, key) occurrences missing",
        )
        # observed per-filter false-positive rate of the absent keys (probed
        # driver-side with the kernels) vs the store's mean fill^k
        spec = CP.read_spec(state["store"])
        limbs = K.hashes_to_limbs(
            [hashlib.sha256(k.encode()).digest() for k in state["absent"]], spec.hash_len
        )
        offsets = [
            K.bloom_offsets(K.transform_limbs(limbs, fi), spec.m_bits, spec.k)
            for fi in range(spec.num_filters)
        ]
        observed = trials = 0
        for r in CP.read_checkpoint(ctx.spark, state["store"]).select("filters").collect():
            filters = K.bloom_unpack(r[0], spec.num_filters, spec.filter_bytes)
            for fi in range(spec.num_filters):
                observed += int(K.bloom_probe(filters[fi], offsets[fi]).sum())
                trials += len(state["absent"])
        fills = [
            float(f["actual_false_positive_rate"])
            for i in res["general_information"] for f in i["filters"]
        ]
        expect = trials * sum(fills) / len(fills)
        checks.diag["fpr_ratio"] = observed / expect if expect else float("nan")
        checks.diag["mean_fill_k"] = sum(fills) / len(fills)
        checks.add(
            "search_fpr_matches_fill",
            abs(observed - expect) <= 6 * math.sqrt(expect) + 3,
            f"{observed} false filter hits, {expect:.1f} expected from fill^k",
        )
        # rotated (day x org) store: kernel fold parity and HLL accuracy
        daily = CP.read_checkpoint(ctx.spark, str(out / "daily"))
        gcols = ["window_start", "org"]
        kdd = kd.withColumn("window_start", F.col("day"))
        exact = {
            _ws_key((r[0], r[1])): r[2]
            for r in kdd.groupBy(*gcols).agg(F.countDistinct("key_sha")).collect()
        }
        blob_len = sum((F.length(c) for c in VALUE_BLOBS[1:]), F.length(VALUE_BLOBS[0]))
        est, nbytes = {}, 0
        for r in daily.select(*gcols, "hll_items", blob_len.alias("n")).collect():
            est[_ws_key((r[0], r[1]))] = K.hll_count(K.hll_unpack(r[2]))
            nbytes += r["n"]
        checks.diag["distinct_err"] = check_hll(checks, "rotated_hll_items_within_3rse", est, exact)
        cond = group_filter([pick(random.Random(ctx.seed), exact)], "org")
        row = daily.filter(cond).collect()[0]
        rows = kdd.filter(cond).select("key_sha", "repo").collect()
        check_fold(checks, spec, row, [r[0] for r in rows], [r[1] for r in rows])
        checks.diag["store_bytes"] = nbytes
        kd.unpersist()
        return checks


WORKLOADS = {w.name: w for w in (GatherFamily(), SearchHourly())}
