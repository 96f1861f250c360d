"""The traced run: which layer calls get spans, and the per-layer metrics
derived from those spans and from Spark's status stores."""

from __future__ import annotations

import re

from perfbench.tracer import Tracer, clip, innermost, union_length
from perfbench.workloads import SPEC, STAGE_METRIC, Ctx, stage_busy_s

_STAGE_TABLE = re.compile(r"^\d\d_(\w+)$")


def install(tr: Tracer, spark) -> dict:
    """Wrap the layers' public functions; returns the per-run state the
    wrappers fill (kernel timers)."""
    from pii_redactor_spark import tables
    from pii_redactor_spark.functions import url_rules
    from pii_redactor_spark.operators import (
        decontaminate, dedup, dsir, ranking)
    from pii_redactor_spark.plans import build, dedup_job, pipeline

    timers = pipeline.KernelTimers(spark)

    def commit_after(sp, args, kwargs, snap):
        tbl = args[0]
        sp["attrs"]["table"] = tbl.base.name
        files = [p for p in (tbl.data_root / snap.data_dirs[-1]).rglob("*")
                 if p.is_file()]
        tr.count("tables.files_written", len(files))
        tr.count("tables.bytes_written", sum(p.stat().st_size for p in files))

    def probe(key: str, df) -> None:
        # counting now would run the operator's cached stages under the
        # probe, before the program's own action does; defer it
        tr.pending.append(lambda: tr.count(key, df.count()))

    def with_stats(args, kwargs):
        kwargs.setdefault("stats", {})

    def with_timers(args, kwargs):
        if kwargs.get("timers") is None:
            kwargs["timers"] = timers

    for method in ("append", "overwrite"):
        tr.wrap(tables.IcebergishTable, method, "tables.commit",
                after=commit_after)
    tr.wrap(tables.IcebergishTable, "_read_dirs", "tables.read",
            after=lambda sp, a, k, r: tr.count("tables.read_dirs", len(a[2])))
    tr.wrap(tables, "run_resumable", "tables.run_resumable")
    tr.wrap(url_rules, "with_url_rules", "functions.with_url_rules")
    tr.wrap(decontaminate, "contamination", "operators.contamination")
    tr.wrap(dedup, "lsh_candidate_pairs", "operators.lsh_candidate_pairs",
            after=lambda sp, a, k, r: probe("operators.dedup.candidate_pairs", r))
    tr.wrap(dedup, "jaccard_pairs", "operators.jaccard_pairs",
            after=lambda sp, a, k, r: probe(
                "operators.dedup.verified_pairs", r.filter("is_dup")))
    tr.wrap(dedup, "components_from_edges", "operators.components_from_edges",
            before=with_stats,
            after=lambda sp, a, k, r: tr.count(
                "operators.dedup.cc_rounds", k["stats"].get("rounds", 0)))
    tr.wrap(dedup, "dedup_against", "operators.dedup_against")
    tr.wrap(dsir, "dsir_select", "operators.dsir_select")
    tr.wrap(ranking, "global_prefix_sum", "operators.global_prefix_sum")
    tr.wrap(dedup_job, "dedup_corpus", "plans.dedup_corpus")
    tr.wrap(pipeline, "run_pipeline", "plans.run_pipeline", before=with_timers)
    tr.wrap(build, "build_job", "plans.build_job")
    return {"timers": timers}


def _stage_windows(spans: list[dict], op: dict) -> dict[str, float]:
    """Build-stage wall time: from the previous stage table's last commit
    returning (or the build starting) to this stage's last commit
    returning."""
    commits = []
    for sp in spans:
        m = _STAGE_TABLE.match(sp["attrs"].get("table", ""))
        if sp["name"] == "tables.commit" and m and op["start"] <= sp["start"] \
                and sp["end"] <= op["end"]:
            commits.append((sp["end"], m.group(1)))
    commits.sort()
    out: dict[str, float] = {}
    t_prev = op["start"]
    for i, (end, stage) in enumerate(commits):
        if i + 1 < len(commits) and commits[i + 1][1] == stage:
            continue
        out[stage] = out.get(stage, 0.0) + end - t_prev
        t_prev = end
    return out


def per_layer(ctx: Ctx, res: dict, state: dict, session: dict) -> dict:
    tr, log = ctx.tracer, ctx.log
    spans = [sp for sp in tr.spans if sp["end"] is not None]
    ops = [sp for sp in spans if sp["name"].startswith("op.")]
    wall = sum(sp["end"] - sp["start"] for sp in ops)

    def attributed(t: float) -> bool:
        sp = innermost(spans, t)
        return sp is not None and not sp["name"].startswith("trace.")

    stages = [s for s in log.stages.values() if attributed(s["start"])]
    execs = [e for e in log.executions.values() if attributed(e["start"])]
    sql: dict[tuple[str, str], float] = {}  # (node, metric) -> total
    arrow_nodes = 0
    for e in execs:
        for node in e["nodes"]:
            name = "Aggregate" if node["name"].endswith("Aggregate") \
                else node["name"]
            arrow_nodes += name == "ArrowEvalPython"
            for metric, v in node["metrics"].items():
                sql[(name, metric)] = sql.get((name, metric), 0.0) + v

    def arrow(metric: str) -> float:
        return sql.get(("ArrowEvalPython", metric), 0.0)

    c = tr.counters
    kt = state["timers"].snapshot()
    m: dict[str, tuple[float, str]] = {
        "session.get_spark_s": (session["get_spark_s"], "s"),
        "session.ship_package_s": (session["ship_package_s"], "s"),
        "kernels.python_run_s": (arrow("time to run Python workers"), "s"),
        "kernels.python_start_s": (arrow("time to start Python workers"), "s"),
        "kernels.python_init_s": (arrow("time to initialize Python workers"), "s"),
        "kernels.bytes_to_python": (arrow("data sent to Python workers"), "bytes"),
        "kernels.bytes_from_python": (arrow("data returned from Python workers"), "bytes"),
        "kernels.rows": (arrow("number of output rows"), "count"),
        "kernels.arrow_nodes": (arrow_nodes, "count"),
        "kernels.langid_s": (kt["langid_s"], "s"),
        "kernels.ppl_s": (kt["ppl_s"], "s"),
        "kernels.scrub_s": (kt["scrub_s"], "s"),
    }
    windows: dict[str, float] = {}
    for op in ops:
        for stage, t in _stage_windows(spans, op).items():
            windows[stage] = windows.get(stage, 0.0) + t
    for stage, name in STAGE_METRIC.items():
        m[name] = (windows.get(stage, 0.0), "s")
    cand = c.get("operators.dedup.candidate_pairs", 0)
    ver = c.get("operators.dedup.verified_pairs", 0)
    m.update({
        "operators.dedup.candidate_pairs": (cand, "count"),
        "operators.dedup.verified_pairs": (ver, "count"),
        "operators.dedup.verify_yield": (ver / cand if cand else 0.0, "ratio"),
        "operators.dedup.cc_rounds": (c.get("operators.dedup.cc_rounds", 0), "count"),
        "plans.spark_executions": (len(execs), "count"),
    })

    groups = SPEC["contract"]["groups"]
    group_of = {q: g for g, qs in groups.items() for q in qs}
    contract = {f"contract.{g}.{k}": 0.0 for g in groups
                for k in ("construct_s", "exec_s")}
    for q, kind in SPEC["contract"]["hot_spots"].items():
        contract[f"contract.{q}.{kind}"] = 0.0
    for sp in ops:
        q = sp["attrs"].get("q")
        if q is None:
            continue
        kind = "construct_s" if sp["name"] == "op.construct" else "exec_s"
        contract[f"contract.{group_of[q]}.{kind}"] += sp["end"] - sp["start"]
        if SPEC["contract"]["hot_spots"].get(q) == kind:
            contract[f"contract.{q}.{kind}"] += sp["end"] - sp["start"]
    m.update({k: (v, "s") for k, v in contract.items()})

    busy = [(s["start"], s["end"]) for s in stages]
    commit_free = 0.0
    for sp in spans:
        if sp["name"] == "tables.commit":
            span_len = sp["end"] - sp["start"]
            commit_free += span_len - union_length(
                clip(busy, sp["start"], sp["end"]))
    m.update({
        "plans.driver_only_s": (wall - stage_busy_s(log, [
            (sp["start"], sp["end"]) for sp in ops]), "s"),
        "tables.commit_s": (commit_free, "s"),
        "tables.read_dirs": (c.get("tables.read_dirs", 0), "count"),
        "tables.files_written": (c.get("tables.files_written", 0), "count"),
        "tables.bytes_written": (c.get("tables.bytes_written", 0), "bytes"),
        "tables.stored_bytes_per_input_byte": (
            ctx.notes.get("stored_bytes_per_input_byte", 0.0), "ratio"),
    })

    run_s = sum(s["run_s"] for s in stages)
    cores = ctx.notes["cores"]
    m.update({
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (sum(s["cpu_s"] for s in stages), "s"),
        "exec.gc_s": (sum(s["gc_s"] for s in stages), "s"),
        "exec.busy_frac": (run_s / (wall * cores) if wall else 0.0, "ratio"),
        "exec.shuffle_write_bytes": (sum(s["shuffle_write_bytes"] for s in stages), "bytes"),
        "exec.shuffle_write_s": (sum(s["shuffle_write_s"] for s in stages), "s"),
        "exec.spill_bytes": (sum(s["spill_bytes"] for s in stages), "bytes"),
        "exec.agg_peak_memory_bytes": (sql.get(("Aggregate", "peak memory"), 0.0), "bytes"),
    })
    # measured inside this run: a traced minus an untraced run's wall
    # time would be swamped by the run-to-run spread
    probes = sum(sp["end"] - sp["start"] for sp in spans
                 if sp["name"] == "trace.probe")
    m["trace.overhead_s"] = (
        tr.own_s + probes + ctx.notes.get("store_read_s", 0.0), "s")
    return m
