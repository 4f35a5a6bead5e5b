"""The two workloads: inputs made from the seed, one timed pass, and the
checks of that pass's outputs against DuckDB.

Every workload drives the engine only through its public functions. A pass
persists each output it forces (as a validation or profiling run would), so
the checks read the written files back with DuckDB after the timed region.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

import numpy as np

from data_profiler_spark import sources
from data_profiler_spark.checkpoint import CheckpointedValidation
from data_profiler_spark.datagen import LANGS, synth_code_files, synth_commits
from data_profiler_spark.operators import drift
from data_profiler_spark.operators.constraints import (
    CheckSuite,
    DriftCheck,
    MembershipCheck,
    NullRateCheck,
    RangeCheck,
    ReferentialCheck,
    RegexCheck,
    UniquenessCheck,
    run_suite,
)
from data_profiler_spark.operators.profile import profile_table
from data_profiler_spark.sketches import heavy_hitters, quantile_sketch
from pyspark.sql import functions as F

KEYS = ["repo", "path", "commit"]
CODE_COLUMNS = ["repo", "path", "commit", "lang", "content"]
# The six row checks of bench_queries.q_constraint_suite, each with the
# DuckDB predicate that flags the same rows.
ROW_CHECKS = [
    (NullRateCheck("content", max_null_ratio=0.0), "content IS NULL"),
    (NullRateCheck("repo"), "repo IS NULL"),
    (
        RegexCheck("commit", r"^[0-9a-f]{40}$"),
        "commit IS NOT NULL AND NOT regexp_matches(commit, '^[0-9a-f]{40}$')",
    ),
    (
        RegexCheck("path", r"^[A-Za-z0-9_./-]+$"),
        "path IS NOT NULL AND NOT regexp_matches(path, '^[A-Za-z0-9_./-]+$')",
    ),
    (
        MembershipCheck("lang", allowed=tuple(LANGS)),
        "lang IS NOT NULL AND lang NOT IN ({})".format(", ".join(f"'{x}'" for x in LANGS)),
    ),
    (
        RangeCheck("content_len", min_value=1.0, max_value=1e6),
        "content IS NOT NULL AND (length(content) < 1 OR length(content) > 1e6)",
    ),
]
DRIFT_BUCKET = 100.0


def part_files(path: Path) -> list[Path]:
    """The data files Spark (or DuckDB) wrote under ``path``."""
    return sorted(p for p in path.rglob("*.parquet") if not p.name.startswith("."))


def tree_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in part_files(path))


def fingerprint(con, sql: str) -> str:
    """sha256 over the sorted rows of a query: equal iff the row multisets
    are equal."""
    rows = sorted("\x1f".join(repr(v) for v in r) for r in con.execute(sql).fetchall())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def scan(glob: str) -> str:
    # flat scan: checkpoint results sit in bucket=<b> directories whose
    # bucket is also a column of the files
    return f"read_parquet('{glob}', hive_partitioning = false)"


class Workload:
    """One set of inputs and the pass run over them. ``rows`` is the number
    of input rows a pass reads; ``input_bytes`` their parquet size."""

    name = ""
    rows = 0

    def __init__(self, spark, tracer, con, seed: int, run_dir: Path) -> None:
        self.spark, self.tracer, self.con, self.seed = spark, tracer, con, seed
        self.dir = run_dir
        self.input_bytes = 0
        self.fingerprints: dict[str, str] = {}

    def span(self, name: str):
        return self.tracer.span(name)

    def stable(self, key: str, fp: str) -> bool:
        """True iff ``fp`` equals the fingerprint of ``key`` in the first
        pass of this run."""
        return self.fingerprints.setdefault(key, fp) == fp

    def setup(self) -> None:
        """Make the inputs from the seed (timed as set-up)."""
        raise NotImplementedError

    def oracle(self) -> None:
        """Compute the expected results with DuckDB (not timed)."""
        raise NotImplementedError

    def run_pass(self, out: Path) -> dict:
        """The timed pass; writes its outputs under ``out``."""
        raise NotImplementedError

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        """Named checks of one pass's outputs; False is a failed op."""
        raise NotImplementedError


class Suite(Workload):
    """All four north-rule check families through ``run_suite``, then the
    row checks again through a checkpointed run that is resumed after half
    of its bucket manifests are removed."""

    name = "suite"
    rows = 20_000
    n_buckets = 8
    wave_size = 8

    def setup(self) -> None:
        inp = self.dir / "input"
        self.cf, self.commits, self.baseline = inp / "code_files", inp / "commits", inp / "baseline"
        with self.span("datagen.synth"):
            synth_code_files(
                self.spark, n_rows=self.rows, n_repos=max(self.rows // 6000, 10), seed=self.seed
            ).write.parquet(str(self.cf))
            df = self._read()
            synth_commits(df, seed=self.seed).write.parquet(str(self.commits))
            # the stored snapshot of a previous run whose content was ~5%
            # longer, so PSI and KS have something to measure
            prev = df.withColumn("content_len", F.col("content_len") * F.lit(1.05))
            drift.histogram_snapshot(prev, "content_len", "lang", DRIFT_BUCKET).write.parquet(
                str(self.baseline)
            )
        self.input_bytes = tree_bytes(self.cf)
        row_checks = [c for c, _ in ROW_CHECKS]
        self.suite = CheckSuite(
            row_checks=row_checks,
            uniqueness=[UniquenessCheck(keys=tuple(KEYS))],
            referential=[
                ReferentialCheck(
                    keys=("repo", "commit"), parent_name="commits", parent_keys=("repo", "commit")
                )
            ],
            drift=[
                DriftCheck(
                    "content_len",
                    group_by="lang",
                    bucket_width=DRIFT_BUCKET,
                    baseline_name="content_len_by_lang",
                    max_ks=0.2,
                )
            ],
        )
        self.row_suite = CheckSuite(row_checks=row_checks)

    def _read(self):
        return sources.read(self.spark, str(self.cf)).withColumn(
            "content_len", F.length("content").cast("double")
        )

    def oracle(self) -> None:
        con, cf = self.con, scan(f"{self.cf}/*.parquet")
        counts = con.execute(
            "SELECT "
            + ", ".join(f"count(*) FILTER (WHERE {pred})" for _, pred in ROW_CHECKS)
            + f" FROM {cf}"
        ).fetchone()
        self.expect_counts = {c.check_name(): n for (c, _), n in zip(ROW_CHECKS, counts)}
        self.expect_uniq = fingerprint(
            con,
            f"SELECT repo, path, commit, count(*) FROM {cf} "
            "GROUP BY repo, path, commit HAVING count(*) > 1",
        )
        self.expect_ref = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE NOT EXISTS (SELECT 1 FROM "
            f"{scan(f'{self.commits}/*.parquet')} p WHERE p.repo = c.repo AND p.commit = c.commit)) "
            f"FROM (SELECT DISTINCT repo, commit FROM {cf}) c"
        ).fetchone()
        self.expect_snapshot = fingerprint(
            con,
            f"SELECT lang, floor(length(content) / {DRIFT_BUCKET})::BIGINT, count(*) "
            f"FROM {cf} WHERE content IS NOT NULL GROUP BY ALL",
        )
        self.expect_groups = con.execute(f"SELECT count(DISTINCT lang) FROM {cf}").fetchone()[0]

    def run_pass(self, out: Path) -> dict:
        with self.span("sources.read_scan"):
            sources.read(self.spark, str(self.cf), columns=CODE_COLUMNS).write.format(
                "noop"
            ).mode("overwrite").save()
        df = self._read()
        with self.span("constraints.plan"):
            res = run_suite(
                df,
                self.suite,
                partition_col=F.pmod(F.hash("repo"), F.lit(64)),
                parents={"commits": (sources.read(self.spark, str(self.commits)), ("repo", "commit"))},
                content_col="content",
                key_cols=KEYS,
                baselines={"content_len_by_lang": sources.read(self.spark, str(self.baseline))},
            )
        for span, key in (
            ("constraints.verdicts", "verdicts"),
            ("constraints.violations", "violations"),
            ("constraints.uniqueness", "uniqueness"),
            ("referential.match_rate", "referential"),
            ("drift.compare", "drift"),
        ):
            with self.span(span):
                res[key].write.parquet(str(out / key))
        with self.span("drift.snapshot"):
            drift.histogram_snapshot(df, "content_len", "lang", DRIFT_BUCKET).write.parquet(
                str(out / "snapshot")
            )
        written = tree_bytes(out)

        cv = CheckpointedValidation(
            self.spark,
            str(out / "checkpoint"),
            self.row_suite,
            "repo",
            n_buckets=self.n_buckets,
            content_col="content",
            key_cols=KEYS,
            wave_size=self.wave_size,
            uniqueness_keys=KEYS,
        )
        results = Path(cv.results_dir)
        with self.span("checkpoint.run_fresh"):
            fresh = cv.run(df, resume=False)
        fresh_files = part_files(results)
        fresh_bytes = sum(p.stat().st_size for p in fresh_files)
        survivors = sorted(cv.committed_buckets())[1::2]
        for b in set(cv.committed_buckets()) - set(survivors):
            os.remove(f"{cv.manifest_dir}/bucket_{b}.json")
        with self.span("checkpoint.run_resume"):
            resume = cv.run(df)
        # result parquet only: manifests carry wall times and timestamps,
        # so their size differs between identical runs
        rerun = [p for p in part_files(results) if int(p.parent.name.split("=")[1]) not in survivors]
        checkpoint_bytes = fresh_bytes + sum(p.stat().st_size for p in rerun)
        return {
            "fresh": fresh,
            "resume": resume,
            "survivors": len(survivors),
            "checkpoint.files_written": len(fresh_files) + len(rerun),
            "checkpoint.bytes_written": checkpoint_bytes,
            "bytes_written": written + checkpoint_bytes,
        }

    def row_checks_ok(self, verdicts: str, violations: str) -> tuple[bool, bool]:
        """(per-check verdict totals equal DuckDB's counts and cover every
        row, each (partition, check) count equals its violation rows).
        "check" is a reserved word in DuckDB."""
        con = self.con
        totals = dict(
            con.execute(f'SELECT "check", sum(violation_count) FROM {verdicts} GROUP BY 1').fetchall()
        )
        covered = con.execute(
            f"SELECT count(DISTINCT n) = 1 AND min(n) = {self.rows} FROM "
            f'(SELECT "check", sum(row_count) n FROM {verdicts} GROUP BY 1)'
        ).fetchone()[0]
        mismatched = con.execute(
            f'SELECT count(*) FROM (SELECT partition, "check", violation_count n FROM {verdicts} '
            f'WHERE violation_count > 0) v FULL OUTER JOIN (SELECT partition, "check", count(*) n '
            f'FROM {violations} GROUP BY ALL) r USING (partition, "check") '
            "WHERE v.n IS DISTINCT FROM r.n"
        ).fetchone()[0]
        return totals == self.expect_counts and bool(covered), mismatched == 0

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        con = self.con
        verdicts = scan(f"{out}/verdicts/*.parquet")
        violations = scan(f"{out}/violations/*.parquet")
        uniq = scan(f"{out}/uniqueness/*.parquet")
        ck = out / "checkpoint" / "results"
        ck_verdicts = scan(f"{ck}/verdicts/*/*.parquet")
        ck_violations = scan(f"{ck}/violations/*/*.parquet")
        totals_ok, consistent = self.row_checks_ok(verdicts, violations)
        ck_totals_ok, ck_consistent = self.row_checks_ok(ck_verdicts, ck_violations)
        ref = con.execute(
            f"SELECT distinct_child, orphan_count FROM {scan(f'{out}/referential/*.parquet')}"
        ).fetchall()
        drift_rows = con.execute(
            f"SELECT count(*), count(psi), count(ks) FROM {scan(f'{out}/drift/*.parquet')}"
        ).fetchone()
        violation_rows = 'SELECT "check", repo, path, commit, content_sha256 FROM '
        fresh, resume = result["fresh"], result["resume"]
        self.violation_rows = con.execute(f"SELECT count(*) FROM {violations}").fetchone()[0]
        return {
            "verdict_totals": totals_ok,
            "verdicts_match_violations": consistent,
            "uniqueness": fingerprint(
                con,
                "SELECT json_extract_string(key_json, '$.repo'), "
                "json_extract_string(key_json, '$.path'), "
                f"json_extract_string(key_json, '$.commit'), dup_cnt FROM {uniq}",
            )
            == self.expect_uniq,
            "referential": ref == [self.expect_ref],
            "drift_compare": drift_rows == (self.expect_groups,) * 3,
            "drift_snapshot": fingerprint(con, f"SELECT * FROM {scan(f'{out}/snapshot/*.parquet')}")
            == self.expect_snapshot,
            "stable_verdicts": self.stable("verdicts", fingerprint(con, f"SELECT * FROM {verdicts}")),
            "stable_violations": self.stable(
                "violations", fingerprint(con, f"SELECT * FROM {violations}")
            ),
            "stable_uniqueness": self.stable("uniqueness", fingerprint(con, f"SELECT * FROM {uniq}")),
            "checkpoint_fresh_run": (fresh["rows_validated"], fresh["buckets_run"])
            == (self.rows, self.n_buckets),
            "checkpoint_resume_skips_survivors": resume["buckets_skipped"] == result["survivors"]
            and resume["buckets_run"] == self.n_buckets - result["survivors"],
            "checkpoint_verdicts": ck_totals_ok and ck_consistent,
            # the committed violation rows are run_suite's, bucketed
            # differently
            "checkpoint_violations": fingerprint(con, violation_rows + ck_violations)
            == fingerprint(con, violation_rows + violations),
            "checkpoint_uniqueness": fingerprint(
                con, f"SELECT repo, path, commit, dup_cnt FROM {scan(f'{ck}/uniqueness/*/*.parquet')}"
            )
            == self.expect_uniq,
        }


class Profile(Workload):
    """``profile_table(exact=False)`` plus the two Python-side sketches over
    a TPC-H ``lineitem`` table."""

    name = "profile"
    scale_factor = 0.01
    files = 8
    # every type family profile_table handles (integer, decimal, string,
    # date); half of lineitem's 16 columns, as the cost of a pass is
    # mostly per column, not per row
    columns = [
        "l_orderkey",
        "l_partkey",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_returnflag",
        "l_shipdate",
        "l_comment",
    ]
    quantile_col = "l_extendedprice"
    hitters_col = "l_partkey"

    def setup(self) -> None:
        # DuckDB's TPC-H generator has no seed, so the seed picks the row
        # order (the sketches' stream order) and which values are NULL.
        path = self.dir / "input" / "lineitem"
        path.mkdir(parents=True)
        con, s = self.con, self.seed
        with self.span("datagen.synth"):
            con.execute(f"CALL dbgen(sf={self.scale_factor})")
            con.execute(
                f"CREATE TABLE li AS SELECT {', '.join(self.columns)}, h FROM ("
                "SELECT * REPLACE ("
                f"CASE WHEN hash(l_orderkey, l_linenumber, {s}, 1) % 40 = 0 THEN NULL "
                "ELSE l_comment END AS l_comment, "
                f"CASE WHEN hash(l_orderkey, l_linenumber, {s}, 2) % 90 = 0 THEN NULL "
                "ELSE l_discount END AS l_discount), "
                f"hash(l_orderkey, l_linenumber, {s}) AS h FROM lineitem)"
            )
            for i in range(self.files):
                con.execute(
                    f"COPY (SELECT * EXCLUDE (h) FROM li WHERE h % {self.files} = {i} ORDER BY h) "
                    f"TO '{path}/part-{i}.parquet' (FORMAT PARQUET)"
                )
        self.path = path
        self.input_bytes = tree_bytes(path)
        self.rows = con.execute("SELECT count(*) FROM li").fetchone()[0]

    def oracle(self) -> None:
        con = self.con
        schema = [r for r in con.execute("DESCRIBE li").fetchall() if r[0] != "h"]
        self.expect = {
            c: con.execute(f"SELECT count({c}), count(DISTINCT {c}) FROM li").fetchone()
            for c in self.columns
        }
        self.sorted = {
            c: np.sort(
                con.execute(f"SELECT {c}::DOUBLE AS v FROM li WHERE {c} IS NOT NULL").fetchnumpy()["v"]
            )
            for c, kind, *_ in schema
            if kind.startswith(("BIGINT", "DECIMAL"))
        }
        self.hitter_counts = dict(
            con.execute(f"SELECT {self.hitters_col}::VARCHAR, count(*) FROM li GROUP BY 1").fetchall()
        )
        con.execute("DROP TABLE li")
        con.execute("DROP TABLE lineitem")

    def rank_ok(self, col: str, value: float, q: float, err: float) -> bool:
        """Whether some rank ``value`` can take in the sorted column lies
        within ``err`` rows of ``q * n``."""
        v = self.sorted[col]
        lo = np.searchsorted(v, value, side="left")
        hi = np.searchsorted(v, value, side="right")
        return lo - err - 1 <= q * v.size <= hi + err + 1

    def run_pass(self, out: Path) -> dict:
        df = sources.read(self.spark, str(self.path))
        with self.span("profile.profile_table"):
            profile_table(df, exact=False).write.parquet(str(out / "profile"))
        with self.span("sketches.quantile_sketch"):
            qs = quantile_sketch(df, self.quantile_col)
        with self.span("sketches.heavy_hitters"):
            hh = heavy_hitters(df, self.hitters_col)
        return {"quantile": qs, "hitters": hh, "bytes_written": tree_bytes(out)}

    def check(self, out: Path, result: dict) -> dict[str, bool]:
        rows = (
            self.con.execute(f"SELECT * FROM {scan(f'{out}/profile/*.parquet')}")
            .fetchdf()
            .set_index("column")
        )
        counts_ok = distinct_ok = quant_ok = set(rows.index) == set(self.columns)
        for c in self.columns if counts_ok else []:
            r = rows.loc[c]
            count, distinct = self.expect[c]
            counts_ok &= (r.total_count, r["count"], r.null_count) == (
                self.rows,
                count,
                self.rows - count,
            )
            # approx_count_distinct: HLL++ with 512 registers, a 4.6%
            # relative standard error; allow about four
            distinct_ok &= abs(r.distinct_count - distinct) <= 0.2 * distinct + 1
            if c in self.sorted:
                # percentile_approx(accuracy=2000): rank error <= n / 2000
                err = self.sorted[c].size / 2000
                for q, field in zip((0.25, 0.5, 0.75, 0.95, 0.99), ("q25", "median", "q75", "p95", "p99")):
                    quant_ok &= self.rank_ok(c, r[field], q, err)
        qs, hh = result["quantile"], result["hitters"]
        qs_ok = qs.n == self.sorted[self.quantile_col].size and all(
            self.rank_ok(self.quantile_col, qs.query(q), q, qs.error_bound())
            for q in (0.01, 0.25, 0.5, 0.75, 0.99)
        )
        hh_ok = hh.n == self.rows and all(
            est <= self.hitter_counts[v] <= est + hh.error_bound() for v, est in hh.top(10)
        )
        exact = rows.reset_index()[["column", "total_count", "count", "null_count", "distinct_count"]]
        return {
            "profile_counts": bool(counts_ok),
            "profile_distinct": bool(distinct_ok),
            "profile_quantiles": bool(quant_ok),
            "quantile_sketch": bool(qs_ok),
            "heavy_hitters": bool(hh_ok),
            "stable_profile": self.stable(
                "profile", hashlib.sha256(exact.sort_values("column").to_csv().encode()).hexdigest()
            ),
        }


WORKLOADS = {w.name: w for w in (Suite, Profile)}
