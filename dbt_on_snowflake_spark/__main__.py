"""CLI — the engine's equivalent of the dbt command surface the reference
exercises (README.md:108-136 and setup/task.sql:5: ``dbt deps / compile /
run --select <model> --target <t> / test``). Idempotent and cron-able
(reference §2.9 O8: the hourly task just re-invokes `run --select ...`).

    python -m dbt_on_snowflake_spark run       --project <dir> [--select S] [--target T]
    python -m dbt_on_snowflake_spark build     --project <dir> [--select S] [--target T]
    python -m dbt_on_snowflake_spark test      --project <dir> [--target T]
    python -m dbt_on_snowflake_spark compile   --project <dir> [--select S] [--out manifest.json]
    python -m dbt_on_snowflake_spark ls        --project <dir>
    python -m dbt_on_snowflake_spark freshness --project <dir>
    python -m dbt_on_snowflake_spark task run-due --project <dir> --now <ts>

Artifacts (consumed by a UI/CI, reference README.md:115-127, 163-187):
``compile --out`` writes manifest.json (nodes/edges/relations); every
``run`` appends one line to <project>/target/run_history.jsonl and
``run --out`` additionally writes run_results.json.
"""

from __future__ import annotations

import argparse
import json
import os as _os
import sys
from dataclasses import asdict


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="dbt_on_snowflake_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for name in (
        "run", "build", "test", "compile", "ls", "freshness", "seed", "docs",
        "retry", "clone", "run-operation", "show", "vacuum", "compact",
        "snapshot", "parse", "deps", "task", "clean", "reindex",
    ):
        sp = sub.add_parser(name)
        if name == "task":
            sp.add_argument(
                "action", choices=["list", "run", "run-due"],
                help="list: tasks + next fire; run: force one (--name); "
                     "run-due: execute every task whose cron matches "
                     "--now's minute, exactly once per tick",
            )
            sp.add_argument(
                "--name", default=None, dest="task_name",
                help="task name (required for `run`, optional filter for "
                     "`run-due`)",
            )
            sp.add_argument(
                "--now", default=None,
                help="ISO timestamp standing in for the scheduler clock "
                     "(default: current local time). Deterministic ticks: "
                     "cron evaluation and the exactly-once journal key both "
                     "use this value's minute.",
            )
        if name == "ls":
            sp.add_argument(
                "--resource-type", default="model", dest="resource_type",
                choices=["model", "seed", "source", "exposure", "snapshot",
                         "task", "analysis", "all"],
                help="which resource inventory to list",
            )
        if name == "run-operation":
            sp.add_argument("macro", help="macro name from macros/*.sql")
            sp.add_argument(
                "--op-args", default=None, dest="op_args",
                help="YAML mapping of macro keyword arguments",
            )
        if name == "show":
            sp.add_argument(
                "--inline", default=None,
                help="SQL to preview (with ref()/source() resolution); "
                     "omit and use --select <model> to preview a model",
            )
            sp.add_argument(
                "--limit", type=int, default=5, dest="show_limit",
                help="rows to print (default 5)",
            )
            sp.add_argument(
                "--at-version", type=int, default=None, dest="at_version",
                help="time travel: preview the SELECTED model's table "
                     "storage as of a retained committed version "
                     "(engine/table_format.py) instead of compiling it",
            )
        if name == "retry":
            sp.add_argument(
                "--results", default=None,
                help="prior run_results.json (default "
                     "<project>/target/run_results.json)",
            )
        if name == "reindex":
            sp.add_argument(
                "--corpus", required=True,
                help="corpus directory (the sf_dir the index families "
                     "were built from) — retraining needs the original "
                     "vectors, which the index tables don't hold",
            )
            sp.add_argument(
                "--when-drifted", type=float, default=None,
                dest="when_drifted", metavar="RATIO",
                help="retrain ONLY when current/baseline mean "
                     "quantization error exceeds RATIO (e.g. 1.5); "
                     "omit to report drift without rebuilding",
            )
            sp.add_argument(
                "--codes-table", default=None, dest="codes_table",
                help="gate ONE named family (a pq_codes_* codes table "
                     "or an ann_assignments_* IVF table); default "
                     "sweeps every such table in the warehouse — "
                     "including the append-grown and streaming-ingest "
                     "families, the indexes that actually drift",
            )
        if name == "compact":
            sp.add_argument(
                "--indexes", action="store_true", dest="indexes",
                help="also compact the session's managed INDEX tables "
                     "(BM25 postings, ANN assignments, PQ codes, ...): "
                     "per-batch appends leave ~1 file per batch per "
                     "partition; this rewrites each to one file per "
                     "partition dir, and folds merge-on-read update "
                     "LOGS to one row per key via their _merge.json "
                     "sidecar (engine/index_maintenance.py)",
            )
            sp.add_argument(
                "--sort-by", default=None, dest="sort_by",
                help="sort-cluster the rewrite by these columns "
                     "(comma-separated): range-partitioned files with "
                     "parquet min/max stats a range filter can skip",
            )
        sp.add_argument("--project", required=True)
        # default None, not "dev": retry must distinguish "not passed"
        # (restore the prior invocation's target) from an explicit value
        sp.add_argument("--target", default=None)
        if name == "reindex":
            # reindex repurposes the shared pair as family filters —
            # the help must say so (r14 review pass 3, finding 7)
            sp.add_argument(
                "--select", default=None,
                help="comma-separated fnmatch patterns over index "
                     "family names (qualified or bare): sweep ONLY "
                     "matching families",
            )
            sp.add_argument(
                "--exclude", default=None,
                help="comma-separated fnmatch patterns over index "
                     "family names to SKIP (e.g. ephemeral "
                     "verification families a scheduled gate should "
                     "not alarm on)",
            )
        else:
            sp.add_argument("--select", default=None)
            sp.add_argument(
                "--exclude", default=None,
                help="selector atoms to subtract from the selection",
            )
        sp.add_argument(
            "--selector", default=None, dest="selector_name",
            help="named selection from selectors.yml (mutually exclusive "
                 "with --select)",
        )
        sp.add_argument("--out", default=None, help="run_results.json path")
        sp.add_argument(
            "--trace", action="store_true",
            help="write each node's physical plan to <project>/target/traces/",
        )
        sp.add_argument(
            "--state", default=None,
            help="prior manifest.json for state:modified selection",
        )
        sp.add_argument(
            "--defer", action="store_true", dest="defer_",
            help="resolve refs to unselected models from the --state "
                 "manifest's recorded relations (build modified nodes in "
                 "this target, read unmodified parents from prod)",
        )
        sp.add_argument(
            "--full-refresh", action="store_true",
            help="rebuild incremental models from scratch",
        )
        sp.add_argument(
            "--empty", action="store_true",
            help="dbt 1.8 schema-only dry run: materialize every selected "
                 "model with LIMIT 0 input — relations/contracts/DDL are "
                 "exercised, no data moves (the CI smoke mode)",
        )
        sp.add_argument(
            "--fail-fast", action="store_true", dest="fail_fast",
            help="stop scheduling new nodes after the first failure",
        )
        if name == "build":
            sp.add_argument(
                "--wap", action="store_true",
                help="write-audit-publish: stage each table/incremental "
                     "model's new version UNCOMMITTED, run its tests "
                     "against the staged data, and publish (one atomic "
                     "manifest commit) only if they pass — a failing "
                     "audit leaves the previous version serving",
            )
        sp.add_argument(
            "--event-start", default=None, dest="event_start",
            help="microbatch replay window start (inclusive ISO timestamp)",
        )
        sp.add_argument(
            "--event-end", default=None, dest="event_end",
            help="microbatch replay window end (exclusive ISO timestamp)",
        )
        sp.add_argument(
            "--threads", type=int, default=None,
            help="materialize independent DAG branches concurrently "
                 "(default 1; retry replays the prior run's value)",
        )
        sp.add_argument(
            "--vars", default=None,
            help="YAML dict overriding project.yml vars, e.g. "
                 "--vars 'cutoff: 2026-01-01'",
        )
    args = p.parse_args(argv)

    from dbt_on_snowflake_spark.engine.dag import select, toposort
    from dbt_on_snowflake_spark.engine.project import Project
    from dbt_on_snowflake_spark.session import get_spark

    # retry replays the prior invocation's --target/--threads when not
    # passed explicitly — a failed `run --target prod` retried bare must
    # rebuild into prod, not the default target's namespace (dbt retry
    # reuses the full prior invocation). Restored BEFORE Project
    # construction: the target names the schema namespace.
    if args.cmd == "retry":
        _rp = args.results or _os.path.join(
            args.project, "target", "run_results.json"
        )
        if _os.path.isfile(_rp):
            with open(_rp) as _f:
                _prior_args = (json.load(_f).get("args")) or {}
            if args.target is None:
                args.target = _prior_args.get("target")
            if args.threads is None:
                args.threads = _prior_args.get("threads")
    args.target = args.target or "dev"
    args.threads = args.threads or 1

    project = Project(args.project, target=args.target)

    if getattr(args, "selector_name", None):
        if args.cmd == "reindex":
            # reindex's --select is an index-FAMILY fnmatch filter,
            # not a node selector: expanding --selector into it would
            # fnmatch families against the literal 'selector:<name>',
            # match nothing, and exit 0 with ZERO families gated — a
            # drift gate reporting green while checking nothing (r14
            # review pass 9, finding 3)
            print("--selector does not apply to reindex (its --select/"
                  "--exclude are index-family fnmatch filters)",
                  file=sys.stderr)
            return 2
        if args.select:
            print("--selector and --select are mutually exclusive",
                  file=sys.stderr)
            return 2
        if args.selector_name not in project.selectors:
            print(f"unknown selector {args.selector_name!r} (selectors.yml "
                  f"defines: {sorted(project.selectors) or 'none'})",
                  file=sys.stderr)
            return 2
        args.select = f"selector:{args.selector_name}"

    cli_vars = None
    if getattr(args, "vars", None):
        import yaml as _yaml

        cli_vars = _yaml.safe_load(args.vars)
        if not isinstance(cli_vars, dict):
            print("--vars must be a YAML mapping", file=sys.stderr)
            return 2
    resolved_vars = {**(project.config.get("vars") or {}), **(cli_vars or {})}

    if args.cmd == "parse":
        # dbt parse: full project load + validation already happened in
        # Project(...) above (models, versions, governance, contracts,
        # unit tests, snapshots, packages+lock); emit the inventory and
        # the manifest artifact without touching a SparkSession.
        from dbt_on_snowflake_spark.engine.artifacts import write_manifest

        counts = {
            "models": len(project.models),
            "sources": len(project.sources),
            "seeds": len(project.seeds),
            "snapshots": len(getattr(project, "snapshots", {})),
            "exposures": len(getattr(project, "exposures", [])),
            "unit_tests": len(getattr(project, "unit_tests", [])),
            "macros": len(project.macros),
        }
        for k, v in counts.items():
            print(f"{k}: {v}")
        out = args.out or _os.path.join(
            args.project, "target", "manifest.json"
        )
        write_manifest(project, out)
        print(f"manifest: {out}")
        return 0

    if args.cmd == "clean":
        # dbt clean (reference dbt/dbt_project.yml:17 `clean-targets:
        # [target, dbt_modules]`): delete the project's declared
        # artifact dirs. FAIL-CLOSED path policy (the index GC's
        # posture): every entry must resolve to a real directory
        # STRICTLY INSIDE the project root — absolute paths, `..`
        # escapes, the root itself, and symlinks pointing outside are
        # refused with a nonzero exit, deleting nothing, because a
        # mistyped clean-target must never be able to eat a sibling
        # checkout. No SparkSession: clean touches only the filesystem.
        import shutil

        declared = project.config.get("clean-targets")
        if declared is None:
            # dbt's documented default when the key is absent (r12
            # advice #3; the reference declares its own list, so parity
            # there never exercises this branch)
            declared = ["target", "dbt_packages"]
        if not isinstance(declared, list) or not all(
            isinstance(e, str) for e in declared
        ):
            # a scalar (`clean-targets: target`) would iterate as
            # CHARACTERS and rmtree any single-letter dir that happens
            # to exist — refuse malformed config outright
            print(
                "clean-targets must be a YAML list of paths, got "
                f"{declared!r}",
                file=sys.stderr,
            )
            return 2
        root_real = _os.path.realpath(args.project)
        resolved: list[tuple[str, str]] = []
        for entry in declared:
            cand = _os.path.realpath(_os.path.join(args.project, entry))
            if cand == root_real or not cand.startswith(
                root_real + _os.sep
            ):
                print(
                    f"refusing clean-target {entry!r}: resolves to "
                    f"{cand}, outside (or equal to) the project root",
                    file=sys.stderr,
                )
                return 2
            resolved.append((entry, cand))
        for entry, cand in resolved:
            if _os.path.isdir(cand):
                shutil.rmtree(cand)
                print(f"cleaned {entry} ({cand})")
            else:
                print(f"skip {entry}: not present")
        return 0

    if args.cmd == "deps":
        # dbt deps: packages resolve during project load; report what was
        # pinned. The lock was validated (or first written) by
        # _check_and_write_lock — drift already raised before this line.
        lock_path = _os.path.join(args.project, "package-lock.yml")
        if not _os.path.exists(lock_path):
            print("no packages declared (project.yml `packages:`)")
            return 0
        import yaml as _yaml

        with open(lock_path) as f:
            lock = _yaml.safe_load(f) or {}
        for pkg in lock.get("packages", []):
            ver = pkg.get("version") or "unversioned"
            print(f"{pkg['name']} {ver} sha={pkg['sha'][:12]}")
        print(f"lock: {lock_path}")
        return 0

    if args.cmd == "task":
        # the reference's Snowflake TASK surface (setup/task.sql:1-6)
        # minus the daemon: any external cron invokes `task run-due`;
        # ticks are journaled so retries/overlapping runners can't
        # double-fire (engine/tasks.py)
        import shlex
        from datetime import datetime as _dt

        from dbt_on_snowflake_spark.engine import tasks as _tasks

        now = _dt.fromisoformat(args.now) if args.now else _dt.now()
        tdefs = _tasks.load_tasks(args.project)
        if args.action == "list":
            if not tdefs:
                print("no tasks declared (tasks.yml)")
                return 0
            for t in tdefs:
                nf = _tasks.next_fire(t.schedule, now)
                nxt = nf.isoformat(timespec="minutes") if nf else "-"
                print(f"{t.name:24s} [{t.schedule}] next={nxt} args={t.args!r}")
            return 0

        def _task_runner(t):
            # env vars expand in task args exactly like sources.yml
            # base_path, so a shipped tasks.yml can say
            # `--corpus $CURATION_DATA_DIR` (examples/curation)
            argv2 = shlex.split(_os.path.expandvars(t.args))
            if "--project" not in argv2:
                argv2 += ["--project", args.project]
            print(f"task {t.name}: {' '.join(argv2)}")
            return main(argv2)

        if args.action == "run":
            if not args.task_name:
                print("task run requires --name", file=sys.stderr)
                return 2
            byname = {t.name: t for t in tdefs}
            if args.task_name not in byname:
                print(f"unknown task {args.task_name!r} (tasks.yml declares: "
                      f"{sorted(byname) or 'none'})", file=sys.stderr)
                return 2
            rc = _task_runner(byname[args.task_name])
            _tasks.record_tick(
                args.project, args.task_name,
                now.replace(second=0, microsecond=0), rc,
            )
            return rc

        # run-due --name <typo> must error like `task run` does (advice
        # r8): silently filtering every task out returns 0 with no
        # output, so a misspelled cron entry never runs and never
        # complains
        if args.task_name is not None and all(
            t.name != args.task_name for t in tdefs
        ):
            print(f"unknown task {args.task_name!r} (tasks.yml declares: "
                  f"{sorted(t.name for t in tdefs) or 'none'})",
                  file=sys.stderr)
            return 2
        results = _tasks.run_due(
            args.project, now, _task_runner, only=args.task_name
        )
        for tname, status in results:
            print(f"{status:12s} task {tname}")
        return 1 if any(s.startswith("error") for _, s in results) else 0

    if args.cmd == "ls":
        # dbt ls: selection-aware inventory across resource types, with
        # governance/version annotations where set
        rtype = getattr(args, "resource_type", "model") or "model"
        if rtype in ("model", "all"):
            names = (
                select(project, args.select, exclude=args.exclude)
                if (args.select or args.exclude)
                else toposort(project)
            )
            for name in names:
                node = project.models[name]
                notes = []
                if getattr(project, "model_group", {}).get(name):
                    notes.append(f"group={project.model_group[name]}")
                acc = getattr(project, "model_access", {}).get(name)
                if acc:
                    notes.append(f"access={acc}")
                for base, vmap in getattr(
                    project, "model_versions", {}
                ).items():
                    for v, concrete in vmap.items():
                        if concrete == name:
                            tag = "latest" if (
                                project.version_alias.get(base) == name
                            ) else f"v{v}"
                            notes.append(f"version={base}.{tag}")
                suffix = ("  [" + " ".join(notes) + "]") if notes else ""
                print(
                    f"{project.materialization_for(node):5s}  {name}{suffix}"
                )
        if rtype in ("seed", "all"):
            for name in sorted(getattr(project, "seeds", {})):
                print(f"seed   {name}")
        if rtype in ("source", "all"):
            for (g, t) in sorted(project.sources):
                print(f"source {g}.{t}")
        if rtype in ("exposure", "all"):
            for e in getattr(project, "exposures", []):
                print(f"exposure {e.name} ({e.type})")
        if rtype in ("snapshot", "all"):
            for name in sorted(getattr(project, "snapshots", {})):
                s = project.snapshots[name]
                print(f"snapshot {name} [{s.strategy}] on {s.relation}")
        if rtype in ("task", "all"):
            from dbt_on_snowflake_spark.engine.tasks import load_tasks

            for t in load_tasks(args.project):
                print(f"task {t.name} [{t.schedule}] args={t.args!r}")
        if rtype in ("analysis", "all"):
            for name in sorted(getattr(project, "analyses", {})):
                print(f"analysis {name}")
        return 0

    if args.cmd == "compile":
        from dbt_on_snowflake_spark.engine.compile import render

        def resolve_source(g, t):
            return f"src_{g}_{t}"

        def resolve_ref(n):
            # mirror Runner.resolve_ref incl. version alias, seeds,
            # ephemeral inlining
            n = getattr(project, "version_alias", {}).get(n, n)
            if n in project.seeds:
                return project.relation_for(n)
            node = project.models[n]
            if project.materialization_for(node) == "ephemeral":
                body = render(node.body, resolve_ref, resolve_source,
                              variables=resolved_vars)
                return f"({body}) AS _eph_{n}"
            return project.relation_for(n, node.config.get("schema"))

        for name in select(project, args.select, exclude=args.exclude):
            node = project.models[name]
            mat = project.materialization_for(node)
            print(f"-- model: {name} [{node.kind}, {mat}]")
            if node.kind == "sql" and mat != "ephemeral":
                print(
                    render(
                        node.body,
                        resolve_ref,
                        resolve_source,
                        this=project.relation_for(
                            name, node.config.get("schema")
                        ),
                        variables=resolved_vars,
                    )
                )
            print()
        # dbt ANALYSES (reference dbt_project.yml:9 analysis-paths):
        # compiled with full ref()/source() resolution, written as
        # artifacts, NEVER materialized — compile is their whole
        # lifecycle. Only on an unselected compile (dbt parity: a
        # --select narrowed to models doesn't emit analyses).
        if project.analyses and not args.select:
            adir = _os.path.join(
                args.project, "target", "compiled", "analyses"
            )
            _os.makedirs(adir, exist_ok=True)
            for aname in sorted(project.analyses):
                compiled = render(
                    project.compile_analysis(aname),
                    resolve_ref,
                    resolve_source,
                    variables=resolved_vars,
                )
                out_path = _os.path.join(adir, f"{aname}.sql")
                with open(out_path, "w") as f:
                    f.write(compiled)
                print(f"-- analysis: {aname} -> {out_path}")
        if args.out:
            from dbt_on_snowflake_spark.engine.artifacts import write_manifest

            write_manifest(project, args.out)
        return 0

    spark = get_spark("cli")
    from dbt_on_snowflake_spark.engine.runner import Runner

    trace_dir = (
        _os.path.join(args.project, "target", "traces")
        if getattr(args, "trace", False)
        else None
    )
    defer_state = None
    if getattr(args, "defer_", False):
        if not getattr(args, "state", None):
            print("--defer requires --state <manifest.json>", file=sys.stderr)
            return 2
        with open(args.state) as f:
            defer_state = json.load(f)

    reuse: set[str] | None = None
    if args.cmd == "retry":
        # dbt retry: replay the prior COMMAND over only what did not
        # succeed last time. Failed and skipped nodes re-execute; prior
        # successes whose table-backed relations survive on disk register
        # as `reused` instead of rebuilding (views rebuild — they are
        # planning-only). A prior `build` replays as build, so its data
        # and unit tests run again too.
        results_path = args.results or _os.path.join(
            args.project, "target", "run_results.json"
        )
        if not _os.path.isfile(results_path):
            print(f"no prior run_results at {results_path}; run first",
                  file=sys.stderr)
            return 2
        with open(results_path) as f:
            prior = json.load(f)
        # dbt retry replays the prior invocation's FULL args, not just its
        # subcommand: restore every recorded flag the user didn't pass
        # explicitly this time (CLI-provided values win). Without this a
        # retry of a hook-aborted `run --select marts` rebuilds the whole
        # project, and a retried --event-start/--event-end microbatch
        # replay runs without its window.
        prior_args = prior.get("args") or {}
        if args.select is None:
            args.select = prior_args.get("select")
        if args.exclude is None:
            args.exclude = prior_args.get("exclude")
        if not args.full_refresh:
            args.full_refresh = bool(prior_args.get("full_refresh"))
        if args.event_start is None:
            args.event_start = prior_args.get("event_start")
        if args.event_end is None:
            args.event_end = prior_args.get("event_end")
        if not getattr(args, "empty", False):
            args.empty = bool(prior_args.get("empty"))
        if not getattr(args, "wap", False):
            args.wap = bool(prior_args.get("wap"))
        if cli_vars is None and prior_args.get("vars"):
            cli_vars = prior_args["vars"]
        prior_nodes = [
            r for r in prior.get("results", [])
            if r.get("materialization") != "hook"
        ]
        failed_nodes = {
            r["name"] for r in prior_nodes
            if r["status"] not in ("success", "reused")
            and r["name"] in project.models
        }
        # a build that failed ONLY on tests has all-green node results —
        # the owning models must still be retried (they reuse from disk
        # and re-test), or a build->retry CI chain goes green on red tests
        rel2model = {
            project.relation_for(m, project.models[m].config.get("schema")): m
            for m in project.models
        }
        failed_test_models = {
            rel2model[t["relation"]]
            for t in prior.get("tests", [])
            if t.get("status") in ("fail", "error")
            and t.get("relation") in rel2model
        } | {
            u["model"]
            for u in prior.get("unit_tests", [])
            if u.get("status") in ("fail", "error")
            and u.get("model") in project.models
        }
        failed = sorted(failed_nodes | failed_test_models)
        reuse = {
            r["name"] for r in prior_nodes
            if r["status"] in ("success", "reused")
        }
        # under --wap a failed AUDIT discarded the staged data — the
        # on-disk table is the PREVIOUS (good) version, so reusing it
        # would re-test old data and go green without ever ingesting
        # the new data. Those models must REBUILD (stage + re-audit).
        if prior_args.get("wap"):
            reuse -= failed_test_models
        hook_failed = any(
            r.get("materialization") == "hook"
            and r.get("status") not in ("success", "reused")
            for r in prior.get("results", [])
        )
        if not prior_nodes or (not failed and hook_failed):
            # A run aborted by a failing on-run-start hook records only
            # hook entries (every node build was suppressed), so `failed`
            # is empty even though nothing was built. Exiting 0 here would
            # let a run->retry CI chain go green on a fully-failed
            # invocation — instead fall through with no --select override
            # and retry the full selection (prior table-backed successes,
            # if any, still register as reused).
            pass
        elif not failed:
            print("nothing to retry: prior run had no failed or skipped "
                  "nodes or tests")
            return 0
        else:
            args.select = ",".join(failed)
        if prior.get("command") == "build":
            args.cmd = "build"  # replay through the build (tested) path

    runner = Runner(
        spark,
        project,
        trace_dir=trace_dir,
        full_refresh=getattr(args, "full_refresh", False),
        threads=getattr(args, "threads", 1) or 1,
        cli_vars=cli_vars,
        defer_state=defer_state,
        reuse=reuse,
        event_start=getattr(args, "event_start", None),
        event_end=getattr(args, "event_end", None),
        fail_fast=getattr(args, "fail_fast", False),
        empty=getattr(args, "empty", False),
        wap=getattr(args, "wap", False),
    )

    # the EFFECTIVE flags of this invocation, recorded into run_results
    # so a later `retry` replays them (see the retry block above)
    recorded_args = {
        "select": args.select,
        "exclude": args.exclude,
        "full_refresh": getattr(args, "full_refresh", False),
        "vars": cli_vars,
        "event_start": getattr(args, "event_start", None),
        "event_end": getattr(args, "event_end", None),
        # effective values, so a bare retry rebuilds into the SAME
        # target namespace with the same parallelism
        "target": args.target,
        "threads": getattr(args, "threads", 1),
        # a retry of `run --empty` must stay a schema-only dry run
        "empty": getattr(args, "empty", False),
        # a retry of `build --wap` must keep write-audit-publish: the
        # replay's tests rerun, and dropping the flag would publish a
        # still-failing model's data BEFORE its audit
        "wap": getattr(args, "wap", False),
    }

    if args.cmd in ("run", "retry"):
        state = None
        if getattr(args, "state", None):
            with open(args.state) as f:
                state = json.load(f)
        results = runner.run(args.select, state=state, exclude=args.exclude)
        for r in results:
            print(f"{r.status:8s} {r.materialization:5s} {r.relation} "
                  f"({r.rows if r.rows is not None else '-'} rows, {r.seconds}s)")
        if args.out:
            runner.write_run_results(
                args.out, command="run", cli_args=recorded_args
            )
        # dbt always refreshes target/run_results.json — `retry` reads it,
        # so chained retries converge on the still-failing remainder
        runner.write_run_results(
            _os.path.join(args.project, "target", "run_results.json"),
            command="run",
            cli_args=recorded_args,
        )
        runner.append_run_history(
            _os.path.join(args.project, "target", "run_history.jsonl")
        )
        return (
            0
            if all(r.status in ("success", "reused") for r in results)
            else 1
        )

    if args.cmd == "build":
        # dbt build: materialize in DAG order, testing each model as soon
        # as it lands; a failed (error-severity) test poisons the node —
        # descendants skip rather than build on bad data
        from dbt_on_snowflake_spark.engine.dag import (
            select as dag_select,
            select_snapshots,
            snapshot_ref_model,
            split_snapshot_atoms,
        )
        from dbt_on_snowflake_spark.engine.runner import NodeResult
        from dbt_on_snowflake_spark.engine.testing import TestRunner
        from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

        state = None
        if getattr(args, "state", None):
            with open(args.state) as f:
                state = json.load(f)

        # snapshots are selectable nodes (advice r7): pull their atoms
        # out of the selector (the model graph doesn't know them), fold
        # a `snap+`'s dependent models back in, and scope which
        # snapshots run to the selection — a `build --select
        # unrelated_model` must not advance every SCD2 history
        raw_select, snap_atoms = split_snapshot_atoms(project, args.select)
        raw_exclude, snap_exc_atoms = split_snapshot_atoms(
            project, args.exclude
        )
        snapshot_only = args.select is not None and raw_select is None

        # snapshot-only selection (advice r8): the selection named ONLY
        # snapshot atoms, so the model set is empty regardless of any
        # --exclude — `build --select cust_snap --exclude loner` must not
        # resolve to "all models minus loner" (which would silently
        # advance unrelated SCD2 histories via select_snapshots and could
        # wrongly trip the model->snapshot->model chain check)
        sel_models = (
            set()
            if snapshot_only
            else set(dag_select(project, raw_select, state=state,
                                exclude=raw_exclude))
            if (raw_select or raw_exclude)
            else None
        )
        sel_snaps = select_snapshots(
            project, args.select, snap_atoms, snap_exc_atoms, sel_models
        )
        # DAG placement: source-backed snapshots run BEFORE the model
        # pass (models ref() their tables); ref-backed ones run AFTER it
        # (they must see this run's model state, not last run's). A
        # model reading a snapshot that itself snapshots a model would
        # need mid-pass interleaving — rejected with a clear error.
        ref_backed = {
            s: up
            for s in sel_snaps
            if (up := snapshot_ref_model(project.snapshots[s])) is not None
        }
        model_universe = (
            sel_models if sel_models is not None else set(project.models)
        )
        for m in sorted(model_universe):
            for r in project.models[m].refs:
                if r in ref_backed:
                    print(
                        f"build: model {m!r} refs snapshot {r!r}, which "
                        "itself snapshots a model — build cannot order a "
                        "model -> snapshot -> model chain in one pass. "
                        f"Run `snapshot` first, then `build --exclude {r}`.",
                        file=sys.stderr,
                    )
                    return 2

        if snapshot_only:
            ut_results, results = [], []
            tr = TestRunner(spark, custom=project.package_tests)
            pre_snaps = sorted(s for s in sel_snaps if s not in ref_backed)
            snap_results = (
                runner.run_snapshots(only=pre_snaps) if pre_snaps else []
            )
        else:
            # dbt build runs unit tests up front: they need no
            # materialized state, so logic bugs surface before anything
            # is built. Scoped to the selection — an unrelated model's
            # failing unit test must not fail a selected build.
            ut_results = run_unit_tests(spark, project, models=sel_models)
            for u in ut_results:
                print(f"{u.status:5s} unit {u.name} on {u.model}"
                      + (f" ({u.message})" if u.message else ""))
            # dbt semantics: a model whose unit test failed is SKIPPED
            # (with its descendants) — its logic is provably broken, so
            # it must not overwrite good data
            ut_blocked = {
                u.model: f"unit test {u.name} {u.status}"
                for u in ut_results
                if u.status in ("fail", "error")
            }

            tr = TestRunner(spark, custom=project.package_tests)

            pre_snaps = sorted(s for s in sel_snaps if s not in ref_backed)
            snap_results = (
                runner.run_snapshots(only=pre_snaps) if pre_snaps else []
            )

            def gate(name: str) -> bool:
                # under --wap the model's relation currently resolves to
                # its STAGED (uncommitted) data — the audit runs against
                # the candidate, and only a green audit publishes it.
                # The gate must stay per-node isolated like model errors:
                # an exception here (test dispatch, publish commit
                # conflict) marks THIS node dead instead of aborting the
                # run with run_results unwritten.
                try:
                    res = tr.run_model_tests(project, runner, only={name})
                    ok = all(r.status in ("pass", "warn") for r in res)
                    if runner.wap:
                        rel = runner.resolve_staged(name)
                        if ok:
                            runner.publish_staged(rel)
                        else:
                            runner.discard_staged(rel)
                    return ok
                except Exception as e:  # noqa: BLE001 — node isolation
                    print(f"error in audit gate for {name}: "
                          f"{str(e)[:300]}", file=sys.stderr)
                    if runner.wap:
                        try:
                            runner.discard_staged(runner.resolve_staged(name))
                        except Exception:  # noqa: BLE001
                            pass
                    return False

            results = runner.run(
                raw_select, state=state, exclude=raw_exclude,
                test_hook=gate, blocked=ut_blocked,
            )
        for r in snap_results:
            print(f"{r.status:8s} snapshot {r.relation} "
                  f"({r.rows if r.rows is not None else '-'} rows)")
        for r in results:
            if r.materialization == "snapshot":
                continue  # runner.results carries them; printed above
            print(f"{r.status:8s} {r.materialization:5s} {r.relation} "
                  f"({r.rows if r.rows is not None else '-'} rows, {r.seconds}s)")

        # ref-backed snapshots: after the model pass. A snapshot whose
        # upstream model failed this run skips (SCD2 history must not
        # advance over bad data); an unselected upstream reads its
        # existing table via the normal ref contract.
        if ref_backed:
            by_name = {r.name: r for r in results}
            runnable, skipped = [], []
            for s in sorted(ref_backed):
                up = by_name.get(ref_backed[s])
                if up is not None and up.status not in ("success", "reused"):
                    res = NodeResult(
                        s, "skipped", "snapshot",
                        project.relation_for(s), None, 0.0,
                        f"upstream failed: {ref_backed[s]}",
                    )
                    runner.results.append(res)
                    skipped.append(res)
                else:
                    runnable.append(s)
            post = (
                runner.run_snapshots(only=runnable) if runnable else []
            ) + skipped
            for r in post:
                print(f"{r.status:8s} snapshot {r.relation} "
                      f"({r.rows if r.rows is not None else '-'} rows)")
            snap_results += post
        # dbt build runs singular tests after the model pass (they may
        # span several models); skip when the selection failed models —
        # their assertions would error on missing relations anyway
        if not (args.select or args.exclude) and all(
            r.status in ("success", "reused") for r in results
        ):
            tr.run_singular_tests(project, runner)
        for t in tr.results:
            col = f".{t.column}" if t.column else ""
            print(f"{t.status:5s} test {t.name} on {t.relation}{col} "
                  f"(failures={t.failures})")
        if args.out:
            runner.write_run_results(
                args.out, command="build", tests=tr.results,
                unit_tests=ut_results, cli_args=recorded_args,
            )
        # dbt writes target/run_results.json for build too (and `retry`
        # reads it) — without this a retry after a failed build operates
        # on a stale prior run's results. Tests + unit tests are part of
        # the payload so a tests-only failure is retryable.
        runner.write_run_results(
            _os.path.join(args.project, "target", "run_results.json"),
            command="build", tests=tr.results, unit_tests=ut_results,
            cli_args=recorded_args,
        )
        runner.append_run_history(
            _os.path.join(args.project, "target", "run_history.jsonl")
        )
        bad_models = any(
            r.status not in ("success", "reused") for r in results
        )
        bad_tests = any(t.status in ("fail", "error") for t in tr.results)
        bad_units = any(u.status in ("fail", "error") for u in ut_results)
        bad_snaps = any(r.status != "success" for r in snap_results)
        return (
            0
            if not bad_models and not bad_tests and not bad_units
            and not bad_snaps
            else 1
        )

    if args.cmd == "test":
        from dbt_on_snowflake_spark.engine.dag import select as dag_select
        from dbt_on_snowflake_spark.engine.testing import TestRunner
        from dbt_on_snowflake_spark.engine.unit_tests import run_unit_tests

        sel_models = (
            set(dag_select(project, args.select, exclude=args.exclude))
            if (args.select or args.exclude)
            else None
        )
        ut_results = run_unit_tests(spark, project, models=sel_models)
        for u in ut_results:
            print(f"{u.status:5s} unit {u.name} on {u.model}"
                  + (f" ({u.message})" if u.message else ""))

        runner.run()  # data tests need sources + models materialized
        tr = TestRunner(spark, custom=project.package_tests)
        if sel_models is None:
            # full suite: source tests + every model's tests + singulars
            tr.run_source_tests(project, runner)
            tr.run_model_tests(project, runner)
            tr.run_singular_tests(project, runner)
        else:
            # dbt test --select: only the selected models' declared tests
            # (source tests and singulars are unscoped resources — dbt
            # runs them under their own selectors, not a model name)
            tr.run_model_tests(project, runner, only=sel_models)
        results = tr.results
        for r in results:
            col = f".{r.column}" if r.column else ""
            stored = f" -> {r.stored_relation}" if r.stored_relation else ""
            print(f"{r.status:5s} {r.name} on {r.relation}{col} "
                  f"(failures={r.failures}){stored}")
        # unit tests count in BOTH the numerator and the denominator —
        # summing their failures against len(results) alone understated
        # (or made negative) the passed count
        n_bad = sum(1 for r in results if r.status in ("fail", "error"))
        n_bad += sum(1 for u in ut_results if u.status in ("fail", "error"))
        n_warn = sum(1 for r in results if r.status == "warn")
        total = len(results) + len(ut_results)
        print(
            f"{total - n_bad - n_warn}/{total} tests passed"
            + (f", {n_warn} warned" if n_warn else "")
        )
        if args.out:
            with open(args.out, "w") as f:
                json.dump([asdict(r) for r in results], f, indent=2)
        # dbt semantics: warn-level failures do not fail the invocation
        return 0 if n_bad == 0 else 1

    if args.cmd == "show":
        # dbt show: preview a model's (or inline SQL's) first rows with
        # full ref()/source()/vars resolution — the ad-hoc inspection
        # surface; materializes nothing.
        from dbt_on_snowflake_spark.engine.compile import render

        runner.load_sources()
        if args.inline:
            sql_body = args.inline
        else:
            if not args.select or args.select not in project.models:
                print("show needs --inline <sql> or --select <model>",
                      file=sys.stderr)
                return 2
            node = project.models[args.select]
            if getattr(args, "at_version", None) is not None:
                # time travel: read the model's MATERIALIZED storage as
                # of a retained version — committed data dirs are
                # immutable, so this is a consistent snapshot no matter
                # what has been committed since
                from dbt_on_snowflake_spark.engine import table_format

                relation = project.relation_for(
                    args.select, node.config.get("schema")
                )
                try:
                    dp = table_format.data_path(
                        spark, runner._table_path(relation),
                        version=args.at_version,
                    )
                except ValueError as e:
                    print(f"show: {e}", file=sys.stderr)
                    return 2
                if dp is None:
                    print(
                        f"show: {relation} has no table storage — run the "
                        "model first", file=sys.stderr,
                    )
                    return 2
                df = spark.read.parquet(dp)
                rows = df.limit(args.show_limit).collect()
                print(" | ".join(df.columns))
                for row in rows:
                    print(" | ".join(str(v) for v in row))
                print(f"({len(rows)} row(s) shown @ v{args.at_version})")
                return 0
            if node.kind != "sql":
                print(f"show: {args.select!r} is a python model — run it "
                      f"and query its relation instead", file=sys.stderr)
                return 2
            # ensure upstream relations exist for the preview — build
            # ONLY the model's ancestor closure, never the selected node
            # itself: dbt show compiles + previews, it must not mutate
            # the target warehouse (`show --select mart --target prod`
            # would otherwise write prod)
            runner.run(f"+{args.select}", exclude=args.select)
            sql_body = node.body
        sql = render(
            sql_body, runner.resolve_ref, runner.resolve_source,
            variables=resolved_vars,
        )
        df = spark.sql(sql)
        rows = df.limit(args.show_limit).collect()
        print(" | ".join(df.columns))
        for row in rows:
            print(" | ".join(str(v) for v in row))
        print(f"({len(rows)} row(s) shown)")
        return 0

    if args.cmd == "run-operation":
        # dbt run-operation: execute one macro standalone — the
        # maintenance entry point (grants, manual cleanups, ad-hoc DDL)
        # that shares the models' macro namespace and resolution.
        from dbt_on_snowflake_spark.engine.compile import (
            expand_macros,
            render,
        )

        if args.macro not in project.macros:
            print(
                f"unknown macro {args.macro!r} (macros/: "
                f"{sorted(project.macros) or 'none'})",
                file=sys.stderr,
            )
            return 2
        op_args = {}
        if getattr(args, "op_args", None):
            import yaml as _yaml

            op_args = _yaml.safe_load(args.op_args)
            if not isinstance(op_args, dict):
                print("--op-args must be a YAML mapping", file=sys.stderr)
                return 2
        call = ", ".join(f"{k}={v!r}" for k, v in op_args.items())
        body = expand_macros(
            f"{{{{ {args.macro}({call}) }}}}", project.macros
        )
        runner.load_sources()
        sql = render(
            body, runner.resolve_ref, runner.resolve_source,
            variables=resolved_vars,
        )
        for stmt in filter(None, (s.strip() for s in sql.split(";"))):
            df = spark.sql(stmt)
            for row in df.limit(20).collect():
                print(row.asDict())
        print(f"ran macro {args.macro}")
        return 0

    if args.cmd == "clone":
        # dbt clone: make the STATE manifest's relations available under
        # this target's schema without recomputing them — the CI pattern
        # that seeds a dev/staging environment from prod artifacts.
        # Table-format sources ZERO-COPY clone (r9): the destination
        # commits a manifest pointing at the source's current data dir,
        # and a pin protects that dir from the source's vacuum until the
        # clone stops referencing it — O(1) metadata at any table size,
        # the engine-side analogue of the Snowflake `CREATE TABLE ...
        # CLONE` the reference's dbt workflow leans on. Legacy
        # (pre-format) tables fall back to a physical copy;
        # view-materialized nodes are skipped — they have no storage and
        # recompile for pennies with `run`.
        from dbt_on_snowflake_spark.engine import table_format as _tf
        from dbt_on_snowflake_spark.engine.dag import select as dag_select
        from dbt_on_snowflake_spark.engine.fs import fs_copy, fs_delete, fs_exists

        if not getattr(args, "state", None):
            print("clone requires --state <manifest.json>", file=sys.stderr)
            return 2
        with open(args.state) as f:
            state = json.load(f)
        selected = dag_select(
            project, args.select, state=state, exclude=args.exclude
        )
        n_cloned = n_skipped = 0
        for name in selected:
            src_node = state.get("nodes", {}).get(name)
            if src_node is None:
                print(f"skip    {name} (not in state manifest)")
                n_skipped += 1
                continue
            src_rel = src_node["relation"]
            src_path = runner._table_path(src_rel)
            if not fs_exists(spark, src_path):
                print(f"skip    {name} ({src_rel}: no table storage)")
                n_skipped += 1
                continue
            node = project.models.get(name)
            dst_rel = project.relation_for(
                name, node.config.get("schema") if node else None
            )
            dst_path = runner._table_path(dst_rel)
            if src_path == dst_path:
                print(f"skip    {name} (source and target are the same "
                      f"relation {src_rel})")
                n_skipped += 1
                continue
            if _tf.current_version(spark, src_path) is not None:
                _tf.clone_table(spark, src_path, dst_path)
                how = "zero-copy"
            else:
                fs_delete(spark, dst_path)
                fs_copy(spark, src_path, dst_path)
                how = "copied"
            runner._register_table(dst_rel)
            print(f"cloned  {src_rel} -> {dst_rel} ({how})")
            n_cloned += 1
        print(f"{n_cloned} cloned, {n_skipped} skipped")
        return 0

    if args.cmd == "reindex":
        # codebook drift gate (engine-side `ALTER ... REBUILD`, the
        # tasks.yml-schedulable retrain decision): the ensure-family PQ
        # index appends against a FROZEN codebook; this measures how
        # well that codebook still represents the grown corpus (a
        # narrow codes-only aggregate — the per-row distances were
        # recorded at encode time) and retrains it from the corpus
        # vectors only when the drift ratio crosses --when-drifted.
        from pyspark.errors import AnalysisException

        from dbt_on_snowflake_spark.operators.similarity import (
            DRIFT_REBUILD_RATIO,
            ann_index_drift,
            pq_ensure_families,
            pq_index_drift,
            reindex_ann_when_drifted,
            reindex_pq_when_drifted,
            retrain_any_pq_family,
        )

        # --select / --exclude narrow the sweep: comma-separated
        # fnmatch patterns matched against the qualified AND the bare
        # family name. A scheduled gate-mode sweep exits 2 on any
        # ungateable family (fail closed), but some families are
        # legitimately ungateable forever — ephemeral verification
        # leftovers (ann_assignments_semdel_*, pq_codes_mmdel_*,
        # pq_codes_del_*), families built from a different corpus than
        # --corpus — and a cron that alarms perpetually with no
        # in-band remedy signals nothing (r13 advice #3). The shipped
        # weekly task (examples/curation/tasks.yml) carves the known
        # ephemeral suffixes out with --exclude. Parsed up front: the
        # ensure builds below honor them too.
        import fnmatch

        def _fam_match(fam: str, patterns: list[str]) -> bool:
            base = fam.rsplit(".", 1)[-1]
            return any(
                fnmatch.fnmatch(fam, p) or fnmatch.fnmatch(base, p)
                for p in patterns
            )

        sel_pats = (
            [p.strip() for p in args.select.split(",") if p.strip()]
            if args.select
            else None
        )
        exc_pats = (
            [p.strip() for p in args.exclude.split(",") if p.strip()]
            if args.exclude
            else None
        )

        def _kept(fam: str) -> bool:
            if sel_pats is not None and not _fam_match(fam, sel_pats):
                return False
            return not (exc_pats and _fam_match(fam, exc_pats))

        skipped = 0
        if args.codes_table is not None:
            families = [args.codes_table]
        else:
            # (re)secure the ensure base family (a fresh warehouse
            # gains its baseline) AND the append-grown aps family
            # (steady state: a tableExists probe; after an algo/corpus
            # rotation: the build GCs the superseded family the sweep
            # would otherwise gate — and possibly full-retrain — though
            # no serve path can resolve it anymore, r15 review pass 3,
            # finding 2), then sweep EVERY pq_codes_* AND
            # ann_assignments_* family the catalog knows: the ensure
            # bases, the aps family, the streaming-ingest families,
            # ad-hoc builds — the growers are the indexes that actually
            # drift, and the old base-family-only gate never reached
            # them (r12 advice #2; IVF added per r12 verdict Next #6).
            # Skipped when the invocation's filters discard the family
            # anyway (an IVF-only --select must not pay two full PQ
            # builds) — relevance checks BOTH the live name and the
            # fingerprint-independent family stem against the current
            # catalog, so a filter naming a superseded generation still
            # runs the ensure whose build-time GC reclaims it (r15
            # review pass 5, finding 2) — and a FAILED ensure takes the
            # loud SKIPPED path in gate mode rather than aborting the
            # sweep with every other family ungated (pass 4/5: broad
            # except — a distributed build fails with Py4JJavaError,
            # not the gate loop's driver-side tuple).
            current = spark.catalog.currentDatabase()

            def _list_families() -> list[str]:
                from dbt_on_snowflake_spark.engine.catalog import (
                    list_databases,
                    list_tables,
                )

                out = []
                for db in list_databases(spark):
                    for t in list_tables(spark, db):
                        # the listing returns session TEMP VIEWS for
                        # every database (database=None, once per db) —
                        # a same-prefixed view would enter the sweep as
                        # an unresolvable 'db.view' entry (r13 review
                        # pass 2, finding 3)
                        if t.is_temporary or t.database != db:
                            continue
                        if not t.name.startswith(
                            ("pq_codes_", "ann_assignments_")
                        ):
                            continue
                        out.append(
                            t.name if db == current else f"{db}.{t.name}"
                        )
                return sorted(out)

            # the pre-ensure listing only informs filter relevance —
            # skip the catalog enumeration on unfiltered sweeps, where
            # _kept is constant-True
            pre_listed = (
                _list_families()
                if sel_pats is not None or exc_pats
                else []
            )
            for ensure, name, stem in pq_ensure_families(spark, args.corpus):
                relevant = _kept(name) or any(
                    _kept(f) and f.rsplit(".", 1)[-1].startswith(stem)
                    for f in pre_listed
                )
                if not relevant:
                    continue
                try:
                    ensure(spark, args.corpus)
                except Exception as exc:  # noqa: BLE001 — isolate the
                    # sweep: the family may now be absent from the
                    # catalog, and silently proceeding would leave it
                    # ungated while the sweep reports green
                    print(
                        f"pq ensure {name}: SKIPPED — {exc}",
                        file=sys.stderr,
                    )
                    if args.when_drifted is not None:
                        skipped += 1
            # the authoritative post-ensure listing, every database
            # (qualified families are first-class in the delete path,
            # so the gate must reach them too — r13 review, finding 3)
            families = _list_families()
        if sel_pats is not None:
            families = [f for f in families if _fam_match(f, sel_pats)]
        if exc_pats:
            families = [f for f in families if not _fam_match(f, exc_pats)]
        if (sel_pats is not None or exc_pats) and not families:
            # filters that leave NOTHING to sweep are the 'gate reports
            # green while checking nothing' hazard the --selector
            # validation blocks: a typo'd --select, or an over-broad
            # --exclude eating everything --select kept, would silently
            # disable the weekly drift gate (r14 advice #1; the
            # post-both-filters placement is review finding 1 of the
            # r15 pass, and the alarm fires on a fresh EMPTY catalog
            # too — a typo'd selector that also skipped the ensures
            # must not read as green, pass 5 finding 1). Gate mode
            # alarms (nonzero exit); report mode warns on stderr.
            msg = (
                f"reindex: --select {args.select!r} / --exclude "
                f"{args.exclude!r} filtered the sweep to zero index "
                "families — a misspelled pattern gates nothing"
            )
            if args.when_drifted is not None:
                print(msg, file=sys.stderr)
                return 2
            print(f"warning: {msg}", file=sys.stderr)
        for fam in families:
            is_ivf = fam.rsplit(".", 1)[-1].startswith("ann_assignments_")
            kind = "ivf" if is_ivf else "pq"
            if args.when_drifted is None:
                # report mode: per-family drift, never rebuilds; a
                # baseline-less family is reported, not an error
                try:
                    if is_ivf:
                        d = ann_index_drift(spark, assignments_table=fam)
                        cur, base = (
                            d["current_mean_cdist"], d["base_mean_cdist"]
                        )
                    else:
                        d = pq_index_drift(spark, codes_table=fam)
                        cur, base = (
                            d["current_mean_qerr"], d["base_mean_qerr"]
                        )
                except ValueError as exc:
                    print(f"{kind} index {fam}: no drift baseline ({exc})")
                    continue
                except AnalysisException as exc:
                    # e.g. a crashed swap dropped the centroid sibling:
                    # report, keep sweeping (r13 review, finding 5)
                    print(f"{kind} index {fam}: unreadable ({exc})")
                    continue
                print(
                    f"{kind} index {fam}: drift ratio {d['ratio']:.3f} "
                    f"(current {cur:.4f} / baseline {base:.4f}, "
                    f"{d['n_rows']} rows; default gate "
                    f"{DRIFT_REBUILD_RATIO})"
                )
                continue
            # gate mode: a family the gate CANNOT cover (no baseline,
            # or live ids outside the corpus embeddings) is skipped
            # loudly with a nonzero exit — a scheduled gate that
            # silently skipped a drifting index must alarm (fail
            # closed), while the remaining families still get gated
            # in the same sweep
            try:
                if is_ivf:
                    # the IVF retrain is refresh_centroids from the
                    # grown live assignments (re-arms the baseline)
                    d = reindex_ann_when_drifted(
                        spark,
                        assignments_table=fam,
                        threshold=args.when_drifted,
                    )
                else:
                    d = reindex_pq_when_drifted(
                        spark,
                        codes_table=fam,
                        # convention-routed: pq_codes_ivp_* families
                        # (qualified or stale-generation included)
                        # rebuild through their own cell-partitioned
                        # builder, everything else generically
                        rebuild=lambda cd=fam: retrain_any_pq_family(
                            spark, args.corpus, codes_table=cd
                        ),
                        threshold=args.when_drifted,
                    )
            except (ValueError, OSError, AnalysisException) as exc:
                # AnalysisException: a missing centroid sibling (crashed
                # compaction swap) or a typo'd --codes-table must take
                # the loud SKIPPED path, not abort the sweep with the
                # remaining families ungated (r13 review, finding 5).
                # OSError: fs_replace_atomic's contention/stale gates
                # (a retrain racing another writer's sidecar rewrite,
                # or a minutes-old crash leftover) — same rule: skip
                # THIS family loudly, keep gating the rest (r14 review
                # pass 5, finding 1)
                skipped += 1
                print(f"{kind} index {fam}: SKIPPED — {exc}", file=sys.stderr)
                continue
            verdict = "RETRAINED" if d["rebuilt"] else "within gate"
            print(
                f"{kind} index {fam}: drift ratio {d['ratio']:.3f} vs "
                f"gate {args.when_drifted} -> {verdict}"
            )
        return 2 if skipped else 0

    if args.cmd == "vacuum":
        # reclaim table-format storage across the warehouse: old
        # versions beyond the retention window and orphan data dirs
        # from crashed writers (engine/table_format.py). Safe to run
        # any time — only unreferenced state is deleted.
        from dbt_on_snowflake_spark.engine import table_format

        wh = runner.warehouse
        n_tables = n_removed = 0
        for name in sorted(_os.listdir(wh)) if _os.path.isdir(wh) else []:
            root = _os.path.join(wh, name)
            if not _os.path.isdir(
                _os.path.join(root, table_format.VERSIONS_DIR)
            ):
                continue  # not a versioned table (index tables, legacy)
            removed = table_format.vacuum(spark, root)
            n_tables += 1
            n_removed += len(removed)
            if removed:
                print(f"vacuumed {name}: {', '.join(sorted(removed))}")
        print(f"{n_tables} versioned table(s), {n_removed} dir(s) reclaimed")
        return 0

    if args.cmd == "compact":
        # OPTIMIZE-style small-file compaction: rewrite each versioned
        # table's current state coalesced toward ~128 MB files (within
        # its partition layout, recorded in the manifest), published as
        # a NEW version — readers keep serving the old one until the
        # commit lands; vacuum reclaims it later. Accumulated small
        # files are the read-path tax of every incremental/append
        # pipeline; this is the maintenance pass that pays it down.
        #
        # `--sort-by col` additionally sort-CLUSTERS the rewrite
        # (range-repartition + within-file sort): each output file
        # covers a disjoint range of the column, so parquet min/max
        # statistics let a range-filtered read skip whole files and row
        # groups — Z-ORDER's 1-D case, the read-path lever for a column
        # the mart is filtered on but not partitioned by.
        #
        # Skipped by design: BUCKETED tables (their layout is already
        # exactly one file per bucket, and a blind rewrite would destroy
        # the bucket file naming the catalog scan relies on) and
        # ZERO-COPY CLONES (compacting one would silently materialize a
        # full local copy of the source's data; rebuild the model
        # instead if that's wanted).
        from dbt_on_snowflake_spark.engine import table_format
        from dbt_on_snowflake_spark.engine.fs import fs_size

        sort_cols = [
            c.strip()
            for c in (getattr(args, "sort_by", None) or "").split(",")
            if c.strip()
        ]
        target_bytes = 128 * 1024 * 1024
        wh = runner.warehouse
        n_done = 0
        for name in sorted(_os.listdir(wh)) if _os.path.isdir(wh) else []:
            root = _os.path.join(wh, name)
            v = table_format.current_version(spark, root)
            if v is None:
                continue
            manifest = table_format.read_manifest(spark, root, v)
            if manifest.get("cloned_from"):
                print(f"skip      {name} (zero-copy clone: compacting "
                      "would materialize it)")
                continue
            if manifest.get("bucket_by"):
                print(f"skip      {name} (bucketed: one file per bucket "
                      "by construction)")
                continue
            dp = _os.path.join(root, manifest["data_dir"])
            df = spark.read.parquet(dp)
            if sort_cols and not set(sort_cols) <= set(df.columns):
                # compact sweeps the whole warehouse; a clustering
                # column is table-specific, so tables without it keep
                # their current layout rather than erroring the sweep
                print(f"skip      {name} (no column "
                      f"{','.join(sorted(set(sort_cols) - set(df.columns)))}"
                      " to sort by)")
                continue
            parts = manifest.get("partition_by") or []
            meta = {"partition_by": parts, "compacted_from": v}
            if parts:
                # one write task per partition value: each partition
                # dir compacts to as few files as its data needs
                df = df.repartition(*parts)
                if sort_cols:
                    df = df.sortWithinPartitions(*sort_cols)
                    meta["sorted_by"] = sort_cols
            else:
                n_files = max(1, -(-fs_size(spark, dp) // target_bytes))
                if sort_cols:
                    df = df.repartitionByRange(
                        n_files, *sort_cols
                    ).sortWithinPartitions(*sort_cols)
                    meta["sorted_by"] = sort_cols
                else:
                    df = df.repartition(n_files)
            nv, ddir = table_format.next_txn(spark, root)
            writer = df.write.mode("overwrite")
            if parts:
                writer = writer.partitionBy(*parts)
            writer.parquet(_os.path.join(root, ddir))
            table_format.commit(spark, root, nv, ddir, meta=meta)
            table_format.vacuum(spark, root)
            print(f"compacted {name}: v{v} -> v{nv}"
                  + (f" (sorted by {','.join(sort_cols)})" if sort_cols
                     else ""))
            n_done += 1
        print(f"{n_done} versioned table(s) compacted")
        if getattr(args, "indexes", False):
            from dbt_on_snowflake_spark.engine import index_maintenance
            from dbt_on_snowflake_spark.engine.fs import fs_delete, fs_list

            # reclaim day-old _temporary/.spark-staging leftovers from
            # crashed writers FIRST: abandoned staging blocks the
            # fold's return-to-pristine drop and wedges a first-delete
            # retry (both fail closed on staged files); live slow
            # writers are safe behind the age gate
            # (engine/index_maintenance.reclaim_abandoned_staging)
            s_done, s_skip = index_maintenance.reclaim_abandoned_staging(
                spark
            )
            for d in s_done:
                print(f"reclaimed abandoned staging {d}")
            for d, why in s_skip:
                print(f"skip staging under {d}: {why}")
            # fold DELETE tombstones next: the rewrite drops the
            # tombstoned rows from every member table
            # (engine/index_delete.py) and leaves it compact — running
            # it before the compaction sweep lets the sweep's
            # already-compact check skip those tables instead of
            # rewriting them a second time; afterwards the serves read
            # pristine index state again
            from dbt_on_snowflake_spark.engine.index_delete import (
                fold_tombstone_families,
            )

            d_done, d_skip = fold_tombstone_families(spark)
            for name, n_members, n_files in d_done:
                print(
                    f"folded tombstones {name}: {n_members} member "
                    f"table(s) rewritten, {n_files} tombstone file(s)"
                )
            for name, why in d_skip:
                print(f"skip tombstones {name}: {why}")
            t_done, t_skip, t_resumed = index_maintenance.compact_index_tables(
                spark
            )
            for name, before, after in t_done:
                print(f"compacted index {name}: {before} -> {after} file(s)")
            for name in t_resumed:
                print(f"resumed crashed swap for index {name}")
            for name, why in t_skip:
                print(f"skip index {name}: {why}")
            from dbt_on_snowflake_spark.engine.index_delete import (
                RACED_FOLD,
            )

            retryable = t_resumed or any(
                RACED_FOLD in why for _, why in d_skip
            )
            if d_skip and retryable:
                # a family can be skipped because its member was lost
                # to a crashed drop-rename swap (healed by the resume
                # step above) or because an ingest batch raced the
                # member rewrite (finished by now): in both cases one
                # retry converges in THIS sweep instead of the next
                # (r12 review passes 2/4). Other skip reasons (missing
                # sidecar, unknown refresh kind, missing member with
                # nothing resumed) cannot have changed — re-sweeping
                # would only duplicate their report lines.
                r_done, r_skip = fold_tombstone_families(spark)
                for name, n_members, n_files in r_done:
                    print(
                        f"folded tombstones {name} (maintenance "
                        f"retry): {n_members} member table(s) "
                        f"rewritten, {n_files} tombstone file(s)"
                    )
                for name, why in r_skip:
                    print(f"skip tombstones {name}: {why}")
            l_done, l_skip = index_maintenance.fold_update_logs(spark)
            for name, before, after in l_done:
                print(f"folded log {name}: {before} -> {after} file(s)")
            for name, why in l_skip:
                print(f"skip log {name}: {why}")
            # a crashed rewrite from a PRIOR process leaves a
            # __compacting dir the in-memory catalog no longer knows;
            # reclaim it (its owner either survived the crash or will
            # be rebuilt from the corpus by its ensure_* path). fs_list,
            # not os.listdir: the warehouse may be an object store
            for d in sorted(fs_list(spark, wh)):
                if d.endswith("__compacting") and not spark.catalog.tableExists(
                    d
                ):
                    fs_delete(spark, _os.path.join(wh, d))
                    print(f"reclaimed orphaned {d}")
        return 0

    if args.cmd == "docs":
        from dbt_on_snowflake_spark.engine.artifacts import (
            write_catalog,
            write_manifest,
        )

        runner.run(args.select)
        tdir = _os.path.join(args.project, "target")
        write_manifest(project, _os.path.join(tdir, "manifest.json"))
        write_catalog(spark, runner, _os.path.join(tdir, "catalog.json"))
        print(f"wrote {tdir}/manifest.json and {tdir}/catalog.json")
        return 0

    if args.cmd == "snapshot":
        results = runner.run_snapshots()
        if not results:
            print("no snapshots defined (snapshots.yml)")
            return 0
        for r in results:
            rows = "-" if r.rows is None else r.rows
            extra = f"  {r.error}" if r.error else ""
            print(f"{r.status:8s} snapshot  {r.relation} "
                  f"({rows} rows){extra}")
        runner.write_run_results(
            args.out
            or _os.path.join(args.project, "target", "run_results.json"),
            command="snapshot", cli_args=recorded_args,
        )
        runner.append_run_history(
            _os.path.join(args.project, "target", "run_history.jsonl")
        )
        return 0 if all(r.status == "success" for r in results) else 1

    if args.cmd == "seed":
        runner.load_seeds()
        for r in runner.results:
            print(f"{r.status:8s} seed  {r.relation} ({r.rows} rows)")
        return 0 if all(r.status == "success" for r in runner.results) else 1

    if args.cmd == "freshness":
        from dbt_on_snowflake_spark.engine.freshness import check_freshness

        runner.load_sources()
        for fr in check_freshness(spark, project, runner):
            print(f"{fr.status:5s} {fr.source}.{fr.table} "
                  f"max({fr.loaded_at_field})={fr.max_loaded_at}")
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
