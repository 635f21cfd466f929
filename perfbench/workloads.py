"""The three workloads.  Each drives the program only through its public
functions, checks every output against an oracle, and keeps measuring
after a failed operation (a failure counts in ``failed``/``error_rate``).

- ``build``: a seeded crawl segment through ``plans.pipeline.run_pipeline``
  in the cold JVM (warm-up), then resumes after a simulated crash.
- ``query``: a closed loop with one client over a committed graph
  version, ``sparql.query`` for reads and ``sparql.update`` plus a
  Parquet commit for writes.
- ``reason``: fixpoint job sets (``operators.reasoner``,
  ``operators.linking``, ``operators.paths``), each result committed to
  Parquet.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, oracle
from .trace import EventLog, Tracer, tree_cpu_s

STAGES = ("extract", "quarantine", "components", "canonicalize", "graph", "terms", "lineage")

# input sizes (recorded in BENCHMARK.json's ``why`` of each workload)
BUILD_PAGES = 200
QUERY_SIZES = dict(customers=300, orders=1500, parts=200, chain=4)
QUERY_CRAWL_PAGES = 200
REASON_SIZES = dict(customers=200, orders=1000, parts=100, chain=4)
REASON_DEPTH = 3  # class/property hierarchy depth D
REASON_DIAMETER = 3  # sameAs chain diameter L
REASON_CHAINS = 100
REASON_FOREST = dict(nodes=500, tc_depth=6, plus_depth=4)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile that has at
    least ten samples beyond it; the maximum when there are too few."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def write_pages(pdf: pd.DataFrame, path: str) -> None:
    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us")), ("html", pa.binary()),
        ("text", pa.string()), ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def write_frame(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark, self.work, self.seed, self.tr = spark, work, seed, tracer
        self.con = oracle.connect()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lat: list[float] = []  # latency of every measured operation
        self.lat_traced: list[bool] = []
        self.cpu: list[float] = []  # CPU seconds of the process tree per operation
        self.ok_ops = 0
        self.untraced_s = 0.0  # wall time of operations run with tracing off
        self.log: list[str] = []  # one human-readable line per operation

    # -- bookkeeping -------------------------------------------------------
    def check(self, what: str, got, want) -> bool:
        self.attempted += 1
        if got == want:
            return True
        self.failed += 1
        self.errors.append(f"{what}: got {str(got)[:300]} want {str(want)[:300]}")
        return False

    def verify(self, what: str, got, want) -> bool:
        """``check`` of ``got()``; a result that cannot even be read (a
        missing or unreadable output) is a failure too."""
        try:
            value = got()
        except Exception:
            self.failure(what)
            return False
        return self.check(what, value, want)

    def sample(self, dt: float, ok: bool, cpu: float) -> None:
        self.lat.append(dt)
        self.cpu.append(cpu)
        self.lat_traced.append(self.tr.enabled)
        self.ok_ops += ok

    def failure(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{what}: {traceback.format_exc(limit=3)[-600:]}")

    def warm_up(self) -> float:
        """The first operation(s), in a cold JVM: timed and checked, but
        not part of the measured samples."""
        t0 = time.time()
        self.run_op(-1)
        return time.time() - t0

    UNIT = 1  # operations per unit of work (a query cycle is one unit)

    def more(self, i: int, t_end: float, alternate: bool) -> bool:
        """Whole units only; at least one, and two when ``alternate``."""
        if i % self.UNIT:
            return True
        return i == 0 or time.time() < t_end or (alternate and i < 2 * self.UNIT)

    def measure(self, seconds: float, alternate: bool) -> None:
        """Run operations until ``seconds`` have passed.  ``alternate``
        switches tracing off for every second unit, so the traced run can
        compare traced and untraced latency."""
        traced = self.tr.enabled
        t_end = time.time() + seconds
        i = 0
        while self.more(i, t_end, alternate):
            self.tr.enabled = traced and not (alternate and (i // self.UNIT) % 2 == 1)
            t0 = time.time()
            self.run_op(i)
            if traced and not self.tr.enabled:
                self.untraced_s += time.time() - t0
            i += 1
        self.tr.enabled = traced

    def e2e(self) -> dict:
        """The end-to-end metrics every workload reports besides set-up and
        memory: the mean wall time and the mean CPU time (benchmark
        process, JVM and Python workers) of a measured operation.  Means,
        not medians: a query cycle mixes six templates, and a mean weighs
        each by its cost instead of letting the request that happens to
        sort into the middle decide."""
        return {
            "op_mean_s": statistics.fmean(self.lat) if self.lat else 0.0,
            "op_cpu_s": statistics.fmean(self.cpu) if self.cpu else 0.0,
        }


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------


class Build(Workload):
    """Warm-up (part of set-up): one seeded crawl segment through
    ``run_pipeline`` into a fresh workdir, in the cold JVM, as a
    spark-submit job runs it, and a first resume.  Measured operation: a
    resume after a simulated crash right after ``canonicalize``
    committed."""

    name = "build"

    def setup(self) -> None:
        self.seg = gen.crawl_segment(self.seed, 0, gen.crawl_params(self.seed, BUILD_PAGES))
        self.pages = os.path.join(self.work, "pages")
        write_pages(self.seg.pages, self.pages)
        self.wd = os.path.join(self.work, "build")
        self.full: dict = {}
        self.resumes: list[dict] = []

    def run_op(self, i: int) -> None:
        from sophia_rs_spark.plans.pipeline import run_pipeline

        kind = "build" if i == -1 else "resume"
        if kind == "resume":
            self._crash(self.wd)
        with self.tr.span("perfbench.op", kind=kind):
            try:
                with self.tr.span("plans.pipeline") as sp:
                    t0, c0 = time.time(), tree_cpu_s()
                    run_pipeline(self.spark, self.spark.read.parquet(self.pages), self.wd)
                    dt, cpu = time.time() - t0, tree_cpu_s() - c0
            except Exception:
                self.failure(f"run_pipeline {kind}")
                return
        self.log.append(f"pipeline {kind} {dt:.3f} s")
        rows = self._manifests(self.wd)
        rec = {"dt": dt, "sp": sp, "ok": self._check(self.seg, self.wd), "rows": rows,
               "recomputed": sum(1 for _, mt in rows.values() if mt >= t0)}
        if kind == "build":
            self.full = rec
            # the first resume still compiles code the later ones reuse
            self.run_op(-2)
        elif i >= 0:
            self.resumes.append(rec)
            self.sample(dt, rec["ok"], cpu)

    @staticmethod
    def _crash(wd: str) -> None:
        """The graph stage's files are half written (no manifest, no
        _SUCCESS) and terms/lineage never started."""
        for f in ("_MANIFEST.json", "_SUCCESS"):
            p = os.path.join(wd, "graph", f)
            if os.path.exists(p):
                os.remove(p)
        for st in ("terms", "lineage"):
            shutil.rmtree(os.path.join(wd, st), ignore_errors=True)

    @staticmethod
    def _manifests(wd: str) -> dict:
        """stage → (rows, manifest mtime)."""
        from sophia_rs_spark.plans.pipeline import load_manifest, manifest_path

        out = {}
        for st in STAGES:
            p = manifest_path(wd, st)
            out[st] = ((load_manifest(wd, st) or {}).get("rows", 0),
                       os.path.getmtime(p) if os.path.exists(p) else 0.0)
        return out

    def _check(self, seg: gen.CrawlSegment, wd: str) -> bool:
        exp, con = seg.expected, self.con

        def stage(st, cols):
            return oracle.fingerprint(con, oracle.parquet_src(os.path.join(wd, st)), cols)

        with self.tr.span("perfbench.check"):
            checks = [
                ("extract rows", lambda: stage("extract", ["url"])[0], len(seg.quads) + seg.bad_rows),
                ("quarantine rows", lambda: stage("quarantine", ["url"])[0], seg.bad_rows),
                ("components", lambda: stage("components", ["member", "comp"]),
                 oracle.fingerprint_df(con, exp["components"], ["member", "comp"])),
                ("canonicalize", lambda: stage("canonicalize", ["s", "p", "o", "url"]),
                 oracle.fingerprint_df(con, exp["canonicalize"], ["s", "p", "o", "url"])),
                ("graph", lambda: stage("graph", ["s", "p", "o", "g", "src_url"]),
                 oracle.fingerprint_df(con, exp["graph"].assign(g=None), ["s", "p", "o", "g", "src_url"])),
                ("terms", lambda: stage("terms", ["term", "kind"]),
                 oracle.fingerprint_df(con, exp["terms"], ["term", "kind"])),
            ]
            ok = True
            for what, got, want in checks:
                ok &= self.verify(f"build {what}", got, want)
            return ok

    def report(self) -> dict:
        f = self.full
        rows = f["rows"]["graph"][0] if f.get("ok") else 0
        return {
            "build_s": (f.get("dt", 0.0), "s"),
            "build_triples_per_s": (rows / f["dt"] if f else 0.0, "triples/s"),
            "resume_s": (median(self.lat), "s"),
            "pages": (BUILD_PAGES, "count"),
            "graph_rows": (rows, "count"),
        }

    def layers(self, ev: EventLog, tr: Tracer) -> dict:
        out = self._layers(ev, tr, self.full) if self.full.get("sp") else {}
        out["pipeline.resume_recomputed_stages"] = median([r["recomputed"] for r in self.resumes])
        out.update(parse_rates(self.seg))
        return out

    @staticmethod
    def _layers(ev: EventLog, tr: Tracer, b: dict) -> dict:
        out: dict = {}
        sp, rows = b["sp"], b["rows"]
        groups = {s.group for s in tr.subtree(sp)}
        prev, manifest_s = sp.start, 0.0
        for st in STAGES:
            n, mt = rows[st]
            out[f"pipeline.stage_s.{st}"] = mt - prev
            out[f"pipeline.rows.{st}"] = n
            jobs = ev.jobs_between(groups, prev, mt)
            writes = [ev.jobs[j].get("end", 0.0) for j in jobs if ev.is_write(j)]
            if writes:  # the post-write count and checksum
                manifest_s += mt - max(writes)
            if st == "components":  # operators.linking inside the pipeline
                out["linking.cc_s"] = mt - prev
                out["linking.cc_spark_jobs"] = len(jobs)
            if st == "graph":
                out["graph.shuffle_write_bytes"] = ev.shuffle_write(jobs)
                out["graph.task_skew"] = ev.task_skew(jobs)
            prev = mt
        out["pipeline.manifest_s"] = manifest_s
        jobs = ev.jobs_in(groups)
        out["pipeline.spark_jobs"] = len(jobs)
        py = ev.python(jobs)
        out["extract.python_total_s"] = py["python_total_ms"] / 1e3
        out["extract.python_boot_s"] = py["python_boot_ms"] / 1e3
        out["extract.arrow_bytes_sent"] = py["arrow_sent"]
        out["extract.arrow_bytes_received"] = py["arrow_received"]
        out["extract.quarantine_ratio"] = rows["quarantine"][0] / max(1, rows["extract"][0])
        out["graph.dedup_ratio"] = rows["graph"][0] / max(1, rows["canonicalize"][0])
        out["terms.rows"] = rows["terms"][0]
        return out


def parse_rates(seg: gen.CrawlSegment, min_s: float = 0.3) -> dict:
    """Triples per second per core of each parser, called directly on the
    payloads of one segment's pages (single-threaded)."""
    from sophia_rs_spark.sources.html_extract import extract_payloads
    from sophia_rs_spark.sources.jsonld import parse_jsonld_batch
    from sophia_rs_spark.sources.ntparser import parse_nx_batch
    from sophia_rs_spark.sources.rdfxml import parse_rdfxml_batch
    from sophia_rs_spark.sources.turtle import parse_turtle_batch

    parsers = {
        "nt": lambda d: parse_nx_batch(d, quads=False, generalized=False),
        "ttl": lambda d: parse_turtle_batch(d, quads=False, generalized=False),
        "jsonld": parse_jsonld_batch,
        "rdfxml": parse_rdfxml_batch,
    }
    rows = []
    for url, h in zip(seg.pages["url"], seg.pages["html"]):
        rows.extend((url, fmt, text) for fmt, text in extract_payloads(h.decode()))
    payloads = pd.DataFrame(rows, columns=["url", "fmt", "text"])
    out = {}
    for fmt, parse in parsers.items():
        batch = payloads[payloads["fmt"] == fmt][["url", "text"]].reset_index(drop=True)
        n, t0 = 0, time.perf_counter()
        while len(batch) and time.perf_counter() - t0 < min_s:
            res = parse(batch)
            n += int(res["error"].isna().sum())
        dt = time.perf_counter() - t0
        out[f"sources.parse_rate.{fmt}"] = n / dt if dt > 0 and n else 0.0
    return out


# ---------------------------------------------------------------------------
# query
# ---------------------------------------------------------------------------


CYCLE = gen.CYCLE_LEN


class Query(Workload):
    """A closed loop with one client.  The unit of work is a whole cycle
    (see :func:`gen.request_stream`), so every run measures the exact
    request mix; the first cycle is the warm-up."""

    name = "query"
    UNIT = CYCLE

    def setup(self) -> None:
        tables = gen.tpch_tables(self.seed, **QUERY_SIZES)
        crawl = gen.crawl_segment(self.seed, 0, gen.crawl_params(self.seed, QUERY_CRAWL_PAGES))
        oracle.load_graph(self.con, tables, gen.mappings(), crawl.expected["graph"][["s", "p", "o"]])
        # version 0 is the direct-mapping SQL twin's output (byte-identical
        # to the program's direct mapping by its contract), written without
        # a Spark job so set-up stays cheap
        self.version = 0
        os.makedirs(self._vdir(0))
        self.con.execute(
            "COPY (SELECT s, p, o, CAST(NULL AS VARCHAR) AS g FROM triples) "
            f"TO '{os.path.join(self._vdir(0), 'part-0.parquet')}' (FORMAT PARQUET)"
        )
        self.graph = self.spark.read.parquet(self._vdir(0))
        self.requests = gen.request_stream(self.seed, 100 * CYCLE, QUERY_SIZES["customers"], QUERY_SIZES["parts"])
        self.seen: set[str] = set()
        self.recs: list[dict] = []

    def _vdir(self, v: int) -> str:
        return os.path.join(self.work, "graph", f"v{v}")

    def run_op(self, i: int) -> None:
        if i < 0:
            for req in self.requests[:CYCLE]:
                self._request(req, measured=False)
        else:
            self._request(self.requests[CYCLE + i], measured=True)

    def _request(self, req: gen.Request, measured: bool) -> None:
        from sophia_rs_spark import sparql

        rec = {"req": req, "new": req.text not in self.seen, "traced": self.tr.enabled}
        self.seen.add(req.text)
        ok = False
        with self.tr.span("perfbench.op", template=req.template) as op:
            t0, c0 = time.time(), tree_cpu_s()
            try:
                if req.template == "update":
                    with self.tr.span("sparql.update"):
                        new = sparql.update(self.graph, req.text)
                    with self.tr.span("perfbench.commit"):
                        new.write.parquet(self._vdir(self.version + 1))
                        self.version += 1
                        self.graph = self.spark.read.parquet(self._vdir(self.version))
                    rows = None
                else:
                    with self.tr.span("sparql.query") as sq:
                        df = sparql.query(self.graph, req.text)
                    with self.tr.span("sparql.exec") as se:
                        rows = [tuple(r) for r in df.collect()]
                    rec["plan"], rec["exec"] = sq, se
                dt, cpu = time.time() - t0, tree_cpu_s() - c0
            except Exception:
                self.failure(f"{req.template} {req.text[:120]}")
                return
        rec.update(dt=dt, op=op)
        self.log.append(f"request {req.template} {'repeat' if req.repeat else 'new'} "
                        f"{'measured' if measured else 'warmup'} {dt:.3f} s")
        with self.tr.span("perfbench.check"):
            if rows is None:
                oracle.apply_update(self.con, req)
                ok = self.verify(
                    f"update v{self.version}",
                    lambda: oracle.fingerprint(
                        self.con, oracle.parquet_src(self._vdir(self.version)), ["s", "p", "o"]),
                    oracle.fingerprint(self.con, "triples", ["s", "p", "o"]),
                )
            else:
                try:
                    got = oracle.normalize(req, rows)
                except ValueError:
                    got = rows
                ok = self.check(f"{req.template} {req.text[:120]}", got, oracle.expected_rows(self.con, req))
        if measured:
            self.sample(dt, ok, cpu)
            self.recs.append(rec)

    def report(self) -> dict:
        val, pct, n = tail(self.lat)
        upd = [r["dt"] for r in self.recs if r["req"].template == "update"]
        return {
            "query_p50_s": (median(self.lat), "s"),
            "query_tail_s": (val, "s"),
            "query_tail_percentile": (pct, "%"),
            "query_tail_samples": (n, "count"),
            "queries_per_s": (self.ok_ops / sum(self.lat) if self.lat else 0.0, "1/s"),
            "update_p50_s": (median(upd), "s"),
            "repeat_share": (sum(r["req"].repeat for r in self.recs) / max(1, len(self.recs)), "ratio"),
        }

    def layers(self, ev: EventLog, tr: Tracer) -> dict:
        recs = [r for r in self.recs if r["traced"] and r.get("op") is not None]
        reads = [r for r in recs if r["req"].template != "update"]
        out = {
            "sparql.plan_s.new": median([r["plan"].dur for r in reads if r["new"]]),
            "sparql.plan_s.repeat": median([r["plan"].dur for r in reads if not r["new"]]),
            "sparql.update_s": median([r["dt"] for r in recs if r["req"].template == "update"]),
            "sparql.codegen_compiles": statistics.fmean(
                [tr.delta(r["op"], "compiles") for r in reads]) if reads else 0.0,
            "sparql.spark_jobs": statistics.fmean(
                [len(ev.jobs_in({s.group for s in tr.subtree(r["op"])})) for r in reads]) if reads else 0.0,
        }
        for t in gen.READS:
            rs = [r for r in reads if r["req"].template == t]
            out[f"sparql.exec_s.{t}"] = median([r["exec"].dur for r in rs])
            out[f"sparql.shuffle_bytes.{t}"] = median(
                [ev.shuffle_write(ev.jobs_in({s.group for s in tr.subtree(r["op"])})) for r in rs])
        return out


# ---------------------------------------------------------------------------
# reason
# ---------------------------------------------------------------------------


class Reason(Workload):
    """Job sets of the four fixpoints, each result committed to Parquet;
    the first set, in the cold JVM, is the warm-up."""

    name = "reason"
    JOBS = ("rdfs_saturate", "connected_components", "transitive_closure", "one_or_more")

    def setup(self) -> None:
        s = self.seed
        tables = gen.tpch_tables(s, **REASON_SIZES)
        self.tdir = os.path.join(self.work, "tables")
        os.makedirs(self.tdir, exist_ok=True)
        for name, df in tables.items():
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(self.tdir, f"{name}.parquet"))
        self.maps = gen.mappings()
        schema = gen.schema_hierarchy(s, REASON_DEPTH)
        sameas = gen.sameas_chains(s, REASON_CHAINS, REASON_DIAMETER)
        tc = gen.chain_forest(s, "tc", REASON_FOREST["nodes"], REASON_FOREST["tc_depth"])
        plus = gen.chain_forest(s, "plus", REASON_FOREST["nodes"], REASON_FOREST["plus_depth"])
        inputs = {
            "schema": pd.DataFrame(schema, columns=["s", "p", "o"]),
            "sameas": pd.DataFrame(sameas, columns=["src", "dst"]),
            "tc": pd.DataFrame(tc, columns=["s", "o"]),
            "plus": pd.DataFrame(plus, columns=["src", "dst"]),
        }
        self.inp = {}
        for k, df in inputs.items():
            self.inp[k] = os.path.join(self.work, "inputs", k)
            write_frame(df, self.inp[k])
        con = self.con
        for name, df in tables.items():
            con.register("_t", df)
            con.execute(f"CREATE TABLE {name} AS SELECT * FROM _t")
            con.unregister("_t")
        comp = gen.components_of(sameas)
        self.want = {
            "rdfs_saturate": oracle.rdfs_fp(con, self.maps, schema),
            "connected_components": oracle.fingerprint_df(
                con, pd.DataFrame(sorted(comp.items()), columns=["member", "comp"]), ["member", "comp"]),
            "transitive_closure": oracle.closure_fp(con, tc),
            "one_or_more": oracle.closure_fp(con, plus),
        }
        self.base_rows = oracle.rdfs_base_rows(con, self.maps, schema)
        self.sets: list[dict] = []

    def _job(self, job: str, k: int) -> tuple[float, dict]:
        from sophia_rs_spark.operators import linking, paths, reasoner
        from sophia_rs_spark.sources.direct_mapping import spark_triples

        sp = self.spark
        layer = {"rdfs_saturate": "operators.reasoner", "transitive_closure": "operators.reasoner",
                 "connected_components": "operators.linking", "one_or_more": "operators.paths"}[job]
        info: dict = {}
        out_dir = os.path.join(self.work, "results", job, f"r{k}")
        with self.tr.span(layer, job=job) as span:
            t0 = time.time()
            if job == "rdfs_saturate":
                t = spark_triples(sp, self.tdir, self.maps).unionByName(sp.read.parquet(self.inp["schema"]))
                res = reasoner.rdfs_saturate(t)
            elif job == "connected_components":
                res = linking.connected_components(sp.read.parquet(self.inp["sameas"]), stats=info)
            elif job == "transitive_closure":
                res = reasoner.transitive_closure(sp.read.parquet(self.inp["tc"]))
            else:
                res = paths.one_or_more(sp.read.parquet(self.inp["plus"]))
            with self.tr.span("perfbench.commit"):
                res.write.parquet(out_dir)
            dt = time.time() - t0
        info.update(span=span, dir=out_dir, dt=dt)
        return dt, info

    def run_op(self, i: int) -> None:
        k = len(self.sets)
        rec: dict = {"jobs": {}, "ok": True}
        with self.tr.span("perfbench.op", kind="job_set") as op:
            t0, c0 = time.time(), tree_cpu_s()
            for job in self.JOBS:
                try:
                    _, info = self._job(job, k)
                    rec["jobs"][job] = info
                except Exception:
                    self.failure(f"reason {job}")
                    rec["ok"] = False
            dt, cpu = time.time() - t0, tree_cpu_s() - c0
        self.log.append(f"job_set r{k} {dt:.3f} s " + " ".join(
            f"{j}={info['dt']:.3f}" for j, info in rec["jobs"].items()))
        cols = {"rdfs_saturate": ["s", "p", "o"], "connected_components": ["member", "comp"],
                "transitive_closure": ["s", "o"], "one_or_more": ["src", "dst"]}
        with self.tr.span("perfbench.check"):
            for job, info in rec["jobs"].items():
                def got(job=job, info=info):
                    fp = oracle.fingerprint(self.con, oracle.parquet_src(info["dir"]), cols[job])
                    info["rows"] = fp[0]
                    return fp

                rec["ok"] &= self.verify(f"reason {job} r{k}", got, self.want[job])
        rec.update(dt=dt, op=op, traced=self.tr.enabled)
        self.sets.append(rec)
        if i >= 0:
            self.sample(dt, rec["ok"], cpu)

    def report(self) -> dict:
        return {
            "reason_s": (median(self.lat), "s"),
            "job_sets": (len(self.lat), "count"),
        }

    def layers(self, ev: EventLog, tr: Tracer) -> dict:
        sets = [s for s in self.sets[1:] if s["traced"]]
        per: dict[str, list] = {}

        def add(k, v):
            per.setdefault(k, []).append(v)

        for s in sets:
            for job, info in s["jobs"].items():
                span = info["span"]
                jobs = len(ev.jobs_in({x.group for x in tr.subtree(span)}))
                if job == "rdfs_saturate":
                    add("reasoner.rdfs_s", info["dt"])
                    add("reasoner.rdfs_spark_jobs", jobs)
                    add("reasoner.inferred_rows", info.get("rows", 0) - self.base_rows)
                elif job == "transitive_closure":
                    add("reasoner.tc_s", info["dt"])
                elif job == "one_or_more":
                    add("paths.plus_s", info["dt"])
                    add("paths.plus_spark_jobs", jobs)
                else:
                    rounds = info.get("iterations", 0)
                    add("linking.cc_s", info["dt"])
                    add("linking.cc_rounds", rounds)
                    add("linking.cc_spark_jobs", jobs)
                    add("linking.s_per_round", info["dt"] / rounds if rounds else 0.0)
        return {k: median(v) for k, v in per.items()}


WORKLOADS = {w.name: w for w in (Build, Query, Reason)}
