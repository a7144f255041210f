"""Single-pass search: the `cli search` document against an independent
driver-side fold of the stored states (honas_search.c:188-217, 303-314),
the `run_search` frame schemas, and one store scan per search."""

import dataclasses
import hashlib
import json
import math

import pytest
from pyspark.sql import functions as F

from honas_spark import kernels as K
from honas_spark.cli import main
from honas_spark.functions.text import explode_keys
from honas_spark.search import general_information, run_search
from honas_spark.sources import checkpoint as CP
from honas_spark.sources.corpus import generate_corpus
from honas_spark.state import SketchState

GROUP_COLS = ["window_start", "org"]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """A multi-window (hour x org) store with small, busy filters (many
    partial hits), plus the keys its gather inserted."""
    d = tmp_path_factory.mktemp("single_pass")
    corpus, out = str(d / "corpus"), str(d / "store")
    generate_corpus(spark, 1200, n_hours=3).withColumn(
        "org", F.split("repo", "/")[0]
    ).write.parquet(corpus)
    assert main([
        "gather", "--input", corpus, "--output", out,
        "--m-bits", str(1 << 13), "--k", "3", "--filters", "4",
        "--filters-per-user", "2", "--window", "1 hour",
        "--entity-col", "org", "--client-col", "repo",
    ]) == 0
    keys = sorted(
        r[0] for r in explode_keys(
            spark.read.parquet(corpus), "path", entity_col="org"
        ).select("key").distinct().collect()
    )
    return out, keys


def _job(keys):
    present = keys[:: max(len(keys) // 16, 1)][:16]
    absent = [f"absent/{i}.invalid" for i in range(6)]

    def grp(gid, ks):
        g = {"hostnames": {
            k: hashlib.sha256(k.encode()).hexdigest() for k in ks
        }}
        if gid is not None:
            g["id"] = gid
        return g

    return {"groups": [
        grp(1, present[:4]),
        grp(2, present[4:8] + absent[:1]),
        grp(None, present[8:11] + absent[1:2]),  # id-less groups share
        grp(None, present[11:13]),               # one null group id
        grp(3, absent[2:6]),                     # no present key
        grp(4, present[13:14]),
        grp(5, present[14:16]),
    ]}


def _iso(v):
    return v.isoformat() if hasattr(v, "isoformat") else v


def _fold(spark, root, job, flatten_on):
    """The expected document, folded driver-side from the stored rows
    with SketchState + K.bloom_probe and the reference's rules."""
    spec = CP.read_spec(root)
    nf, u = spec.num_filters, spec.filters_per_user
    queries = [
        (g.get("id"), k, bytes.fromhex(h))
        for g in job.get("groups", []) for k, h in g["hostnames"].items()
    ]
    info, hostnames, groups = [], [], []
    for r in CP.read_checkpoint(spark, root).collect():
        st = SketchState.from_fields(spec, r.asDict())
        s = st.stats()
        gk = {c: _iso(r[c]) for c in GROUP_COLS}
        info.append({
            **gk,
            "first_request": _iso(r["first_ts"]),
            "last_request": _iso(r["last_ts"]),
            "estimated_number_of_clients": s["est_clients"],
            "estimated_number_of_host_names": s["est_items"],
            "number_of_requests": s["n_rows"],
            "number_of_filters": nf,
            "number_of_filters_per_user": u,
            "number_of_hashes": spec.k,
            "number_of_bits_per_filter": spec.m_bits,
            "flatten_threshold": spec.flatten_threshold,
            "filters": [
                {
                    "number_of_bits_set": b,
                    "estimated_number_of_host_names": a,
                    "actual_false_positive_rate": "%.10f" % p,
                }
                for b, a, p in zip(
                    s["bits_set"], s["est_items_per_filter"],
                    s["actual_fpr"],
                )
            ],
        })
        est = s["est_clients" if flatten_on == "clients" else "est_items"]
        flat = est < spec.flatten_threshold
        acc = {}  # group id -> [AND mask, all found, any found]
        for gid, key, sha in queries:
            limbs = K.hashes_to_limbs([sha], spec.hash_len)
            mask = 0
            for fi in range(nf):
                offs = K.bloom_offsets(
                    K.transform_limbs(limbs, fi), spec.m_bits, spec.k
                )
                if K.bloom_probe(st.filters[fi], offs)[0]:
                    mask |= 1 << fi
            raw = bin(mask).count("1")
            hits = int(raw >= u) if flat else raw
            if raw >= u:
                est_key = None if raw >= nf else round(
                    math.log(1 - raw / nf) / math.log(1 - u / nf), 2
                )
                hostnames.append({
                    **gk, "group_id": gid, "key": key, "hits": hits,
                    "filters_hit": mask, "flattened": flat,
                    "est_key_clients": est_key, "n_rows": s["n_rows"],
                    "est_clients": s["est_clients"],
                    "est_items": s["est_items"],
                    "total_bits_set": s["total_bits_set"],
                })
            a = acc.setdefault(gid, [(1 << nf) - 1, True, False])
            a[0] &= mask
            a[1] &= hits > 0
            a[2] |= hits > 0
        for gid, (mask, all_found, any_found) in acc.items():
            if any_found:
                pop = bin(mask).count("1")
                by_all = (int(pop >= u) if flat else pop) if all_found else 0
                groups.append({
                    **gk, "group_id": gid, "flattened": flat,
                    "hits_by_all_hostnames": by_all,
                })
    return {"general_information": info, "hostnames": hostnames,
            "groups": groups}


def _canon(rows):
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def _search(root, job, tmp_path, flatten_on):
    jp, op = str(tmp_path / "job.json"), str(tmp_path / "result.json")
    with open(jp, "w") as f:
        json.dump(job, f)
    assert main([
        "search", "--state", root, "--job", jp, "--out", op,
        "--flatten-on", flatten_on,
    ]) == 0
    with open(op) as f:
        return json.load(f)


def _set_threshold(root, threshold):
    CP.write_spec(root, dataclasses.replace(
        CP.read_spec(root), flatten_threshold=threshold
    ))


@pytest.mark.parametrize("flatten_on", ["clients", "hostnames"])
@pytest.mark.parametrize("flatten", ["off", "on", "mixed"])
def test_cli_search_matches_driver_fold(
    spark, store, tmp_path, flatten, flatten_on
):
    root, keys = store
    est = "estimated_number_of_" + (
        "clients" if flatten_on == "clients" else "host_names"
    )
    _set_threshold(root, 0)
    ests = sorted(
        info[est]
        for info in _fold(spark, root, {}, flatten_on)["general_information"]
    )
    threshold = {"off": 0, "on": 1 << 40, "mixed": ests[len(ests) // 2]}
    _set_threshold(root, threshold[flatten])
    job = _job(keys)
    got = _search(root, job, tmp_path, flatten_on)
    want = _fold(spark, root, job, flatten_on)
    flags = {h["flattened"] for h in want["hostnames"]}
    assert flags == {"off": {False}, "on": {True},
                     "mixed": {False, True}}[flatten]
    assert {g["group_id"] for g in want["groups"]} >= {1, 4, None}
    assert 3 not in {g["group_id"] for g in want["groups"]}
    assert _canon(got["general_information"]) == _canon(
        want["general_information"]
    )
    assert _canon(got["groups"]) == _canon(want["groups"])

    def split(rows):  # est_key_clients compared with a rounding slack
        return sorted(
            (json.dumps({k: v for k, v in r.items()
                         if k != "est_key_clients"}, sort_keys=True),
             r["est_key_clients"])
            for r in rows
        )

    g, w = split(got["hostnames"]), split(want["hostnames"])
    assert [a for a, _ in g] == [a for a, _ in w]
    for (_, x), (_, y) in zip(g, w):
        assert (x is None and y is None) or abs(x - y) <= 0.011


def test_cli_search_empty_job(spark, store, tmp_path):
    root, _ = store
    _set_threshold(root, 1)
    got = _search(root, {}, tmp_path, "clients")
    want = _canon(_fold(spark, root, {}, "clients")["general_information"])
    assert got["hostnames"] == [] and got["groups"] == []
    assert _canon(got["general_information"]) == want
    # standalone form: its own empty-job pass over the table
    info = general_information(
        CP.read_checkpoint(spark, root), CP.read_spec(root), GROUP_COLS
    )
    assert _canon(
        [{k: _iso(v) for k, v in i.items()} for i in info]
    ) == want


def test_run_search_frame_schemas(spark, store):
    root, keys = store
    sk = CP.read_checkpoint(spark, root)
    key_df, group_df = run_search(
        sk, CP.read_spec(root), _job(keys), GROUP_COLS
    )
    assert key_df.schema.simpleString() == (
        "struct<window_start:timestamp,org:string,group_id:bigint,"
        "key:string,hits:bigint,filters_hit:bigint,flattened:boolean,"
        "est_key_clients:double,n_rows:bigint,est_clients:bigint,"
        "est_items:bigint,total_bits_set:bigint>"
    )
    assert group_df.schema.simpleString() == (
        "struct<window_start:timestamp,org:string,group_id:bigint,"
        "flattened:boolean,hits_by_all_hostnames:int>"
    )


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _parquet_scans(spark, job_group, path):
    """Parquet scan nodes over `path` in the SQL executions whose jobs
    ran under `job_group`, read from Spark's SQL status store."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    mine = {
        int(j.jobId()) for j in _iter(jobs)
        if j.jobGroup().isDefined() and j.jobGroup().get() == job_group
    }
    sql = spark._jsparkSession.sharedState().statusStore()
    n = 0
    for e in _iter(sql.executionsList()):
        if not mine & {int(j) for j in _iter(e.jobs().keySet())}:
            continue
        for node in _iter(sql.planGraph(e.executionId()).allNodes()):
            if node.name().startswith("Scan parquet") and path in node.desc():
                n += 1
    return n


def test_cli_search_scans_store_once(spark, store, tmp_path):
    root, keys = store
    _set_threshold(root, 1)
    assert len(CP.list_done_windows(root)) == 3
    sc = spark.sparkContext
    sc.setJobGroup("single_pass_scan_count", "cli search")
    try:
        got = _search(root, _job(keys), tmp_path, "clients")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got["hostnames"] and got["general_information"]
    assert _parquet_scans(spark, "single_pass_scan_count", root) == 1
