"""The three benchmark workloads.

Each workload materialises its inputs from the seed (``materialise``), then
runs one closed-loop operation at a time (``op``), each followed by its own
correctness check (``check``, outside the timed region). Every call into an
engine layer sits in a span named after the metric it feeds; spans cost
nothing in untraced runs.

The engine only reads what ``materialise`` wrote: generation uses
``jsonoid_discovery_spark.datagen`` and is never timed as an operation.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor

COLS = ["repo", "path", "commit", "lang", "content"]
KEYS = ["repo", "path", "commit"]
HEX64 = re.compile(r"^[0-9a-f]{64}$")


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def _write_parent(spark, dest: str) -> str:
    from jsonoid_discovery_spark.datagen import repo_commits

    path = os.path.join(dest, "repo_commits.parquet")
    repo_commits(spark).coalesce(1).write.parquet(path)
    return path


class Workload:
    """Base: ``rows`` is the stated input size (files or documents per
    operation); ``broken`` makes ``check`` expect one result that the engine
    does not produce, so a test can see a failed check being counted."""

    name = ""

    def __init__(self, spark, seed: int, rows: int, nproc: int, broken: bool = False) -> None:
        self.spark, self.seed, self.rows, self.nproc, self.broken = spark, seed, rows, nproc, broken
        self.dest = ""
        self.input_bytes = 0

    def materialise(self, dest: str) -> None:
        raise NotImplementedError

    def use(self, dest: str) -> None:
        """Point operations at one materialisation and load its oracle."""
        raise NotImplementedError

    def op(self, tr, i: int) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        """Problems found in one operation's output; empty when correct."""
        raise NotImplementedError

    def layer_counts(self, out: dict) -> dict[str, float]:
        """Per-layer counts of one checked operation (traced runs)."""
        return {}

    def cleanup_op(self, i: int) -> None:
        pass


class ValidateFull(Workload):
    """One-shot flagship job over a clean ``source_files`` table: persist,
    profile all five columns, compile constraints, then validation,
    per-language verdicts, key uniqueness and referential integrity as
    concurrent jobs, then unpersist."""

    name = "validate_full"

    def materialise(self, dest: str) -> None:
        from jsonoid_discovery_spark.datagen import source_files

        os.makedirs(dest, exist_ok=True)
        source_files(self.spark, n_rows=self.rows, seed=self.seed, partitions=self.nproc).write.parquet(
            os.path.join(dest, "source_files.parquet")
        )
        _write_parent(self.spark, dest)

    def use(self, dest: str) -> None:
        self.dest = dest
        self.table = os.path.join(dest, "source_files.parquet")
        self.parent = os.path.join(dest, "repo_commits.parquet")
        self.input_bytes = dir_bytes(self.table)

    def op(self, tr, i: int) -> dict:
        from pyspark import StorageLevel

        from jsonoid_discovery_spark.operators.constraints import (
            constraints_from_profile,
            partition_verdicts,
            referential_summary,
            uniqueness_summary,
            validate,
        )
        from jsonoid_discovery_spark.operators.profile import profile

        spark = self.spark
        df = spark.read.parquet(self.table).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if tr.traced:
                with tr.span("sources.scan_s"):
                    spark.read.parquet(self.table).count()
            with tr.span("profile.profile_s"):
                prof = profile(df, columns=COLS)
            with tr.span("constraints.compile_s"):
                cons = constraints_from_profile(prof)
            parent = spark.read.parquet(self.parent)

            def run(name, fn):
                with tr.span(name):
                    return fn()

            calls = {
                "constraints.validate_s": lambda: validate(df, cons, key_cols=KEYS, content_col="content").count(),
                "constraints.verdicts_s": lambda: partition_verdicts(df, cons, ["lang"]).collect(),
                "constraints.uniqueness_s": lambda: uniqueness_summary(df, KEYS, compact_keys=True).collect()[0],
                "constraints.referential_s": lambda: referential_summary(df, ["commit"], parent, ["commit"]).collect()[0],
            }
            with ThreadPoolExecutor(min(len(calls), self.nproc)) as pool:
                futs = {k: pool.submit(run, k, fn) for k, fn in calls.items()}
                res = {k: f.result() for k, f in futs.items()}
        finally:
            df.unpersist()
        return {
            "violations": res["constraints.validate_s"],
            "verdicts": res["constraints.verdicts_s"],
            "unique": bool(res["constraints.uniqueness_s"]["is_unique"]),
            "ri_valid": bool(res["constraints.referential_s"]["is_valid"]),
        }

    def check(self, out: dict) -> list[str]:
        bad = []
        expected_violations = 1 if self.broken else 0
        if out["violations"] != expected_violations:
            bad.append(f"violations={out['violations']} (want {expected_violations})")
        if not out["unique"]:
            bad.append("key (repo,path,commit) not unique")
        if not out["ri_valid"]:
            bad.append("referential integrity broken")
        groups = {r["lang"] for r in out["verdicts"]}
        if len(out["verdicts"]) != 11 or None not in groups:
            bad.append(f"{len(out['verdicts'])} verdict groups (want 10 languages + null)")
        if not all(r["pass_all"] for r in out["verdicts"]):
            bad.append("a verdict group fails on the clean table")
        return bad

    def layer_counts(self, out: dict) -> dict[str, float]:
        return {"constraints.violation_rows": out["violations"], "constraints.false_flags": out["violations"]}


class ValidateBatch(Workload):
    """Incremental validation against a checkpointed baseline: resume the
    baseline profile from its checkpoint, profile a mutated batch as a new
    checkpoint unit, check drift between the two states, and write the
    violations and verdicts of the batch."""

    name = "validate_batch"
    BASELINE_FACTOR = 2  # the baseline has this many times the batch's rows
    UNITS = 2

    def materialise(self, dest: str) -> None:
        from jsonoid_discovery_spark.datagen import source_files, source_files_with_violations
        from jsonoid_discovery_spark.plans.checkpoint import CheckpointedProfileRun, partition_units

        spark = self.spark
        os.makedirs(dest, exist_ok=True)
        # operations read only the baseline's checkpointed state, so the
        # baseline table itself is profiled straight from the generator
        base = source_files(spark, n_rows=self.rows * self.BASELINE_FACTOR, seed=self.seed, partitions=self.nproc)
        CheckpointedProfileRun(spark, os.path.join(dest, "ckpt"), "baseline", columns=COLS).run(
            partition_units(base, "repo", self.UNITS)
        )
        batch, expected = source_files_with_violations(spark, n_rows=self.rows, seed=self.seed)
        # one file, as a writer of so small a batch would leave it; the
        # shuffle keeps the generator itself parallel
        batch.repartition(1).write.parquet(os.path.join(dest, "batch.parquet"))
        pairs = sorted({(r["row_key"], r["rule"]) for r in expected.collect()})
        with open(os.path.join(dest, "expected.json"), "w") as f:
            json.dump(pairs, f)
        _write_parent(spark, dest)

    def use(self, dest: str) -> None:
        self.dest = dest
        self.ckpt = os.path.join(dest, "ckpt")
        self.batch = os.path.join(dest, "batch.parquet")
        self.parent = os.path.join(dest, "repo_commits.parquet")
        self.input_bytes = dir_bytes(self.batch)
        self.baseline_state_bytes = dir_bytes(os.path.join(self.ckpt, "state"))
        with open(os.path.join(dest, "expected.json")) as f:
            pairs = [tuple(p) for p in json.load(f)]
        if self.broken:
            # orphans are checked per commit, and injected orphans share
            # commits: drop a violation that is checked per row
            pairs.remove(next(p for p in pairs if p[1] != "orphan-commit"))
        self.expected: dict[str, set[str]] = {}
        for key, rule in pairs:
            self.expected.setdefault(rule, set()).add(key)

    def _op_dir(self, i: int) -> str:
        return os.path.join(self.dest, "ops", str(i))

    def op(self, tr, i: int) -> dict:
        from pyspark.sql import functions as F

        from jsonoid_discovery_spark.config import AnomalyLevel
        from jsonoid_discovery_spark.operators.constraints import (
            Constraint,
            constraints_from_profile,
            partition_verdicts,
            referential_orphans,
            uniqueness_violations,
            validate,
        )
        from jsonoid_discovery_spark.operators.drift import drift_from_states
        from jsonoid_discovery_spark.plans import checkpoint
        from jsonoid_discovery_spark.plans.checkpoint import CheckpointedProfileRun

        spark = self.spark
        op_dir = self._op_dir(i)
        with tr.span("checkpoint.resume_s"):
            base = CheckpointedProfileRun(spark, self.ckpt, "baseline", columns=COLS).result()
        with tr.span("constraints.compile_s"):
            cons = constraints_from_profile(base)
            cons.append(Constraint("commit.hex40", F.col("commit").rlike("^[0-9a-f]{40}$"), AnomalyLevel.FATAL))
        batch = spark.read.parquet(self.batch)
        if tr.traced:
            with tr.span("sources.scan_s"):
                batch.count()
        # the checkpoint's default engine, as scripts/run_validation_job.py uses
        unit_run = CheckpointedProfileRun(spark, os.path.join(op_dir, "ckpt"), "batch", columns=COLS)

        def spanned(profile_catalyst):
            # the unit's profile runs inside the checkpoint call: give it a
            # span of its own, nested in checkpoint.unit_write_s
            def traced(*a, **kw):
                with tr.span("profile.profile_s"):
                    return profile_catalyst(*a, **kw)

            return traced

        with tr.span("checkpoint.unit_write_s"), tr.patch(checkpoint, "profile_catalyst", spanned):
            unit_run.process_unit("batch", batch)
        with tr.span("checkpoint.resume_s"):
            current = unit_run.result()
        with tr.span("drift.drift_s"):
            drift = drift_from_states(base, current, "lang", "content")
        viol_path = os.path.join(op_dir, "violations.parquet")
        verd_path = os.path.join(op_dir, "verdicts.parquet")
        with tr.span("constraints.validate_s"):
            validate(batch, cons, key_cols=KEYS, content_col="content").write.parquet(viol_path)
        with tr.span("constraints.verdicts_s"):
            partition_verdicts(batch, cons, ["lang"]).write.parquet(verd_path)
        parent = spark.read.parquet(self.parent)
        with tr.span("constraints.uniqueness_s"):
            dups = uniqueness_violations(batch, KEYS).collect()
        with tr.span("constraints.referential_s"):
            orphans = referential_orphans(batch, ["commit"], parent, ["commit"]).collect()
        return {
            "op_dir": op_dir,
            "viol_path": viol_path,
            "verd_path": verd_path,
            "drift_reports": len(drift),
            "dups": {f"{r['repo']}|{r['path']}|{r['commit']}" for r in dups},
            "orphans": {r["commit"] for r in orphans},
        }

    def check(self, out: dict) -> list[str]:
        import pyarrow.parquet as pq

        exp = self.expected
        # read outside Spark: the check adds no job to the engine's run
        rows = pq.read_table(out["viol_path"]).to_pylist()
        by_rule: dict[str, set[str]] = {}
        for r in rows:
            by_rule.setdefault(r["rule"], set()).add(f"{r['repo']}|{r['path']}|{r['commit']}")
        bad = []

        def same(rule: str, got: set[str], want: set[str]) -> None:
            if got != want:
                bad.append(f"{rule}: {len(got)} found, {len(want)} injected, {len(got ^ want)} differ")

        same("commit.hex40", by_rule.get("commit.hex40", set()), exp.get("bad-format", set()))
        same("content.required", by_rule.get("content.required", set()), exp.get("null-required", set()))
        if not exp.get("length-outlier", set()) <= by_rule.get("content.lengthBounds", set()):
            bad.append("content.lengthBounds misses an injected length outlier")
        same("dup-key", out["dups"], exp.get("dup-key", set()))
        want_orphans = {k.split("|")[2] for k in exp.get("orphan-commit", set()) | exp.get("bad-format", set())}
        same("orphans", out["orphans"], want_orphans)
        injected = set().union(*exp.values())
        flagged = set().union(*by_rule.values()) if by_rule else set()
        if flagged - injected:
            bad.append(f"{len(flagged - injected)} clean rows flagged")
        if not all(r["content_sha256"] and HEX64.match(r["content_sha256"]) for r in rows):
            bad.append("violation row without a 64-hex content_sha256")
        if out["drift_reports"] != 2:
            bad.append(f"{out['drift_reports']} drift reports (want chi-square + KS)")
        found = (
            (by_rule.get("commit.hex40", set()) & exp.get("bad-format", set()))
            | (by_rule.get("content.required", set()) & exp.get("null-required", set()))
            | (by_rule.get("content.lengthBounds", set()) & exp.get("length-outlier", set()))
            | (out["dups"] & exp.get("dup-key", set()))
            | {k for k in exp.get("orphan-commit", set()) if k.split("|")[2] in out["orphans"]}
        )
        out["counts"] = {
            "constraints.violation_rows": len(rows),
            "constraints.recall": len(found) / max(1, len(injected)),
            "constraints.false_flags": len(flagged - injected),
            "checkpoint.state_bytes": self.baseline_state_bytes
            + dir_bytes(os.path.join(out["op_dir"], "ckpt", "state")),
            "sink.bytes_written": dir_bytes(out["viol_path"]) + dir_bytes(out["verd_path"]),
        }
        return bad

    def layer_counts(self, out: dict) -> dict[str, float]:
        return out.get("counts", {})

    def cleanup_op(self, i: int) -> None:
        shutil.rmtree(self._op_dir(i), ignore_errors=True)


class DiscoverJson(Workload):
    """Schema discovery over unique nested NDJSON documents, then validation
    of the same documents against the discovered schema."""

    name = "discover_json"

    def materialise(self, dest: str) -> None:
        from jsonoid_discovery_spark.datagen import props_docs

        os.makedirs(dest, exist_ok=True)
        props_docs(self.spark, n_rows=self.rows, seed=self.seed, unique=True).select("doc").repartition(
            self.nproc
        ).write.text(os.path.join(dest, "docs.ndjson"))

    def use(self, dest: str) -> None:
        self.dest = dest
        self.path = os.path.join(dest, "docs.ndjson")
        self.input_bytes = dir_bytes(self.path)
        # oracle independent of the engine: the lines Python's json accepts
        self.well_formed = self.malformed = 0
        for name in sorted(os.listdir(self.path)):
            if not name.startswith("part-"):
                continue
            with open(os.path.join(self.path, name)) as f:
                for line in f:
                    try:
                        json.loads(line)
                    except ValueError:
                        self.malformed += 1
                    else:
                        self.well_formed += 1
        self.lines = self.well_formed + self.malformed
        if self.broken:
            self.well_formed += 1

    def op(self, tr, i: int) -> dict:
        from jsonoid_discovery_spark.operators.discovery import discover, validate_json
        from jsonoid_discovery_spark.sources.ndjson import read_ndjson

        df = read_ndjson(self.spark, self.path)
        if tr.traced:
            with tr.span("sources.scan_s"):
                df.count()
        with tr.span("discovery.discover_s"):
            res = discover(df, "doc")
        with tr.span("discovery.emit_s"):
            schema = json.dumps(res.to_json_schema())
        with tr.span("discovery.validate_json_s"):
            anomalies = validate_json(df, "doc", res.schema).collect()
        return {"docs": res.docs, "schema_chars": len(schema), "anomalies": anomalies}

    def check(self, out: dict) -> list[str]:
        bad = []
        real = [a for a in out["anomalies"] if a["rule"] != "malformed"]
        if real:
            bad.append(f"{len(real)} anomalies on the schema's own documents, e.g. {real[0]['path']} {real[0]['rule']}")
        if out["docs"] != self.well_formed:
            bad.append(f"discovered {out['docs']} documents, generator wrote {self.well_formed} well-formed")
        return bad

    def layer_counts(self, out: dict) -> dict[str, float]:
        return {
            "discovery.docs": out["docs"],
            # read_ndjson drops malformed lines before discover() sees them,
            # so discover()'s own malformed count is always 0: count the
            # lines of the input that never reached it instead
            "discovery.malformed": self.lines - out["docs"],
            "discovery.anomalies": len(out["anomalies"]),
        }


WORKLOADS = {w.name: w for w in (ValidateFull, ValidateBatch, DiscoverJson)}
