"""The benchmark's workloads, their output checks and their metrics.

A workload is a pair of functions. The first runs the timed operations
against the program's public entry points and returns
``{"attempted", "failed", "ops", "cpu_s", "docs", "check"}``: ``ops``
holds one ``(start, end)`` wall interval per timed call, ``cpu_s`` the
CPU time the process tree spent in them, ``docs`` the input documents
they processed and ``check`` what the second function needs. The second
checks the outputs, after the timed part and its memory sampling have
ended, and returns the number of operations whose output was wrong.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from perfbench import corpus
from perfbench.procs import cpu_since, tree_cpu
from perfbench.tracer import SparkLog, Tracer, clip, union_length

_T0 = time.time()
ROOT = Path(__file__).resolve().parents[1]
SPEC = json.loads((Path(__file__).parent / "spec.json").read_text())
STAGES = ("urlfilter", "decontaminate", "dedup", "quality", "select", "pack")
STAGE_METRIC = {
    "urlfilter": "functions.urlfilter_s",
    "decontaminate": "operators.decontaminate_s",
    "dedup": "operators.dedup_s",
    "quality": "plans.quality_s",
    "select": "operators.dsir_s",
    "pack": "operators.pack_s",
}


@dataclass
class Ctx:
    spark: object
    work: Path            # working directory of this run, removed at exit
    out: Path             # run records kept in the checkout
    seed: int
    seconds: float
    tiny: bool
    tracer: Tracer | None = None
    log: SparkLog = field(default_factory=SparkLog)
    notes: dict = field(default_factory=dict)


def n_ops(seconds: float, nominal_s: float) -> int:
    """Operations planned for a run of ``seconds`` when one takes about
    ``nominal_s``: a fixed count per setting keeps runs comparable."""
    return max(1, round(seconds / nominal_s))


def _hash_rows(cols: list[str], rows: list[tuple]) -> str:
    from check_contract import table_hash  # scripts/ is on sys.path
    return table_hash(cols, rows)


def read_log(ctx: Ctx) -> None:
    """Untimed: pull new stages (and, traced, SQL executions) from the
    status stores."""
    t0 = time.time()
    ctx.log.read(ctx.spark, with_sql=ctx.tracer is not None)
    ctx.notes["store_read_s"] = ctx.notes.get("store_read_s", 0.0) + time.time() - t0


def phase(what: str) -> None:
    """Progress on stderr, with seconds since the run started."""
    print(f"perfbench: {time.time() - _T0:7.1f}s {what}", file=sys.stderr,
          flush=True)


def _fail(what: str) -> None:
    print(f"perfbench: FAILED {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# build: plans.build.build_job over a generated corpus
# ---------------------------------------------------------------------------

def _check_build(spark, out_root: Path,
                 planted: dict[str, set[int]]) -> tuple[dict, list[str]]:
    """Stage digests, the doc-id chain pack ⊆ select ⊆ quality-kept ⊆
    dedup ⊆ decontaminate ⊆ urlfilter ⊆ input, and the planted
    properties. Returns the digests and the stages whose check failed."""
    from pii_redactor_spark.plans.build import stage_table
    digests, ids, bad = {}, {}, []
    for name in STAGES:
        df = stage_table(out_root, name).read(spark)
        rows = [tuple(r) for r in df.collect()]
        digests[name] = _hash_rows(df.columns, rows)
        i = df.columns.index("doc_id")
        if name == "quality":
            k = df.columns.index("keep")
            ids["dedup_survivors_scored"] = {r[i] for r in rows}
            ids[name] = {r[i] for r in rows if r[k]}
        else:
            ids[name] = {r[i] for r in rows}
    parent = planted["input"]
    for name in STAGES:
        cur = ids[name]
        if not cur or not cur <= parent:
            bad.append(name)
        parent = cur
    if ids["dedup_survivors_scored"] != ids["dedup"]:
        bad.append("quality")
    # exactly the planted contaminated docs go; the planted near-copies
    # shrink the corpus, and the planted flood is one component
    if ids["decontaminate"] != ids["urlfilter"] - planted["contaminated"]:
        bad.append("decontaminate")
    if len(ids["dedup"]) >= len(ids["decontaminate"]) \
            or len(ids["dedup"] & planted["flood"]) != 1:
        bad.append("dedup")
    return digests, sorted(set(bad))


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def run_build(ctx: Ctx) -> dict:
    from pii_redactor_spark.plans.build import build_job
    spec = SPEC["build"]
    n_docs = spec["tiny_docs"] if ctx.tiny else spec["docs"]
    rows, evals, contam_ids = corpus.make_docs(
        ctx.seed, n_docs, near_frac=spec["near_frac"],
        flood_frac=spec["flood_frac"], contam_frac=spec["contam_frac"])
    in_dir, eval_dir = ctx.work / "input", ctx.work / "eval"
    in_bytes = corpus.write_docs(rows, in_dir, spec["files"])
    corpus.write_docs(evals, eval_dir, 1, corpus.EVAL_SCHEMA)
    planted = {"input": {r["doc_id"] for r in rows}, "contaminated": contam_ids,
               "flood": {r["doc_id"] for r in rows
                         if r["text"].startswith(corpus._FLOOD)}}

    phase("build: input written")
    ops, failed, attempted, out_roots, cpu = [], 0, 0, [], 0.0
    for i in range(n_ops(ctx.seconds, spec["nominal_build_s"])):
        out_root = ctx.work / f"build{i}"
        attempted += len(STAGES)
        pages = ctx.spark.read.parquet(str(in_dir))
        bench = ctx.spark.read.parquet(str(eval_dir))
        c0, t0 = tree_cpu(), time.time()
        try:
            if ctx.tracer is not None:
                with ctx.tracer.span("op.build", i=i):
                    build_job(ctx.spark, pages, out_root, run_id=f"bench-{i}",
                              benchmark=bench)
            else:
                build_job(ctx.spark, pages, out_root, run_id=f"bench-{i}",
                          benchmark=bench)
        except Exception:  # a failed build counts every stage as failed
            traceback.print_exc()
            failed += len(STAGES)
            if ctx.tracer is not None:
                ctx.tracer.pending.clear()
            continue
        ops.append((t0, time.time()))
        cpu += cpu_since(c0)
        phase(f"build {i}: {ops[-1][1] - t0:.1f}s")
        if ctx.tracer is not None:
            ctx.tracer.flush()
        out_roots.append(out_root)
    return {"attempted": attempted, "failed": failed, "ops": ops,
            "cpu_s": cpu, "docs": n_docs * len(ops),
            "check": (out_roots, planted, in_bytes)}


def check_build(ctx: Ctx, res: dict) -> int:
    """Failed stages over every build of the run."""
    out_roots, planted, in_bytes = res["check"]
    failed, digests = 0, []
    for out_root in out_roots:
        d, bad = _check_build(ctx.spark, out_root, planted)
        for name in bad:
            _fail(f"build stage {name} (seed {ctx.seed})")
        failed += len(bad)
        digests.append(d)
        ctx.notes["stored_bytes_per_input_byte"] = _dir_bytes(out_root) / in_bytes
    if any(d != digests[0] for d in digests):
        _fail("stage digests differ between builds of one corpus")
        return res["attempted"]
    if digests:
        failed += _compare_record(ctx, "build", digests[0], len(STAGES))
    return failed


def _source_hash() -> str:
    """Of the program and of the benchmark (which generates the inputs)."""
    h = hashlib.sha256()
    for d in ("pii_redactor_spark", "perfbench"):
        for p in sorted((ROOT / d).rglob("*.py")) + sorted((ROOT / d).glob("*.json")):
            h.update(p.read_bytes())
    return h.hexdigest()[:12]


def _compare_record(ctx: Ctx, workload: str, digests: dict, weight: int) -> int:
    """Keep this seed's stage digests in the checkout, keyed by the
    source; a later run of the same seed and source (e.g. traced against
    untraced) must reproduce them."""
    path = ctx.out / (f"{workload}-seed{ctx.seed}{'-tiny' if ctx.tiny else ''}"
                      f"-{_source_hash()}.json")
    if path.exists():
        if json.loads(path.read_text()) != digests:
            _fail(f"{workload} digests differ from {path.name}")
            return weight
        return 0
    ctx.out.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(digests, indent=1, sort_keys=True))
    return 0


# ---------------------------------------------------------------------------
# contract: the registry's queries, constructed then executed once, cold;
# the execution collects the rows the oracle check compares (the results
# are at most a few hundred rows, and a second, untimed execution into a
# noop sink plus a collect would cost each run ~5 s of its time budget)
# ---------------------------------------------------------------------------

def contract_order(tiny: bool) -> list[str]:
    """The contract queries in registry order. With a seed-permuted
    order, the queries that ran first moved the whole pass (JIT and GC
    state): on a 4-core host seed 22's order took 31.0 s against seed
    21's 24.7 s, in two separate series. So the order is fixed and the
    seed varies the generated tables only."""
    from pii_redactor_spark.contract import QUERIES
    wanted = set(SPEC["contract"]["tiny_run" if tiny else "run"])
    return [q for q in QUERIES if q in wanted]


def run_contract(ctx: Ctx) -> dict:
    from pii_redactor_spark.contract import QUERIES
    from pii_redactor_spark.operators.cache import release_caches

    data = ctx.work / "tables"
    corpus.write_contract_tables(data, ctx.seed)
    names = contract_order(ctx.tiny)
    passes = n_ops(ctx.seconds, SPEC["contract"]["nominal_pass_s"])
    ops, results, failed, cpu = [], {}, 0, 0.0
    tr = ctx.tracer
    for p in range(passes):
        for name in names:
            try:
                c0, t0 = tree_cpu(), time.time()
                if tr is not None:
                    with tr.span("op.construct", q=name):
                        df = QUERIES[name](ctx.spark, str(data))
                else:
                    df = QUERIES[name](ctx.spark, str(data))
                t1 = time.time()
                if tr is not None:
                    with tr.span("op.exec", q=name):
                        rows = df.collect()
                else:
                    rows = df.collect()
                t2 = time.time()
                cpu += cpu_since(c0)
                ops += [(t0, t1), (t1, t2)]
                phase(f"{name}: construct {t1 - t0:.2f}s exec {t2 - t1:.2f}s")
                if p == 0:
                    results[name] = (df.columns, [tuple(r) for r in rows])
                if tr is not None:
                    tr.flush()  # before the caches it may read are released
            except Exception:  # one failed query must not stop the pass
                traceback.print_exc()
                failed += 1
                _fail(f"query {name} raised (seed {ctx.seed})")
            finally:
                if tr is not None:
                    tr.pending.clear()
                release_caches()
    phase("contract: pass done")
    return {"attempted": len(names) * passes, "failed": failed, "ops": ops,
            "cpu_s": cpu, "docs": corpus.CONTRACT_DOCS * passes,
            "check": (data, results)}


def check_contract(ctx: Ctx, res: dict) -> int:
    """Queries whose first-pass rows differ from their DuckDB oracle."""
    import duckdb

    from check_contract import TABLES
    from pii_redactor_spark.contract import ORACLE_SQL

    data, results = res["check"]
    failed = 0
    con = duckdb.connect()
    try:
        for t in TABLES:
            if (data / f"{t}.parquet").exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{data / t}.parquet')")
        for name, (cols, rows) in results.items():
            if name not in ORACLE_SQL:
                continue
            rel = con.execute(ORACLE_SQL[name])
            ocols = [d[0] for d in rel.description]
            orows = rel.fetchall()
            if (len(rows) != len(orows) or sorted(cols) != sorted(ocols)
                    or _hash_rows(cols, rows) != _hash_rows(ocols, orows)):
                failed += 1
                _fail(f"query {name} differs from its DuckDB oracle "
                      f"(seed {ctx.seed})")
    finally:
        con.close()
    phase("contract: oracle checks done")
    return failed


WORKLOADS = {"build": (run_build, check_build),
             "contract": (run_contract, check_contract)}


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def stage_busy_s(log: SparkLog, ops: list[tuple[float, float]]) -> float:
    """Wall time inside the timed operations with a Spark stage running."""
    stages = [(s["start"], s["end"]) for s in log.stages.values()]
    return sum(union_length(clip(stages, lo, hi)) for lo, hi in ops)


def end_to_end(ctx: Ctx, res: dict, setup_s: float, peak_mem: int,
               factor: float) -> dict:
    """The timings as they would read on the reference host: divided by
    the run's host-speed factor (rates multiplied by it)."""
    wall = sum(hi - lo for lo, hi in res["ops"])
    timed = {"setup_s": setup_s,
             "docs_per_s": res["docs"] / wall if wall else 0.0,
             "stage_busy_s": stage_busy_s(ctx.log, res["ops"]),
             "cpu_s": res["cpu_s"]}
    phase("as timed: " + ", ".join(f"{k} {v:.4f}" for k, v in timed.items()))
    return {
        "setup_s": (timed["setup_s"] / factor, "s"),
        "docs_per_s": (timed["docs_per_s"] * factor, "docs/s"),
        "stage_busy_s": (timed["stage_busy_s"] / factor, "s"),
        "cpu_s": (timed["cpu_s"] / factor, "s"),
        "peak_pss_mb": (peak_mem / 2**20, "MB"),
    }
