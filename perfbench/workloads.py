"""The three workloads: what each sets up, its operations, and how each
operation's output is checked.

A workload exposes `setup()` and `warmup()` (timed as set-up),
`verify_setup()` (reference answers, untimed), `cycle()` (the
operations of one closed-loop cycle, as (kind, callable) pairs),
`prepare(kind)` (untimed work before an operation) and
`check(kind, output)`. `whole_cycles` says whether a run may stop only
between cycles, and `min_cycles` how many cycles a run makes even when
they outlast its seconds; `op_layer` names the span around each
operation, if the operation is itself a layer.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import sys
import time

import duckdb

from . import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _round(v):
    if isinstance(v, float):
        return float(f"{v:.9g}") if math.isfinite(v) else str(v)
    if isinstance(v, dict):
        return {k: _round(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_round(x) for x in v]
    return v


def evr_summary(result_json: dict) -> list:
    """What two validations of the same data must agree on: per
    expectation, success, whether it raised, and its counts and
    observed value."""
    out = []
    for r in result_json["results"]:
        res = r.get("result") or {}
        exc = (r.get("exception_info") or {}).get("raised_exception", False)
        out.append((
            r["expectation_config"]["expectation_type"],
            bool(r["success"]),
            bool(exc),
            res.get("element_count"),
            res.get("missing_count"),
            res.get("unexpected_count"),
            json.dumps(_round(res.get("observed_value")), sort_keys=True,
                       default=str),
        ))
    return out


def _no_exceptions(summary) -> bool:
    return not any(s[2] for s in summary)


def _close(a, b, rel=1e-7) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# -- image_suite --------------------------------------------------------------

def image_suite():
    import great_expectations_spark as ges

    return (
        ges.suite("images-bench")
        .expect("expect_table_columns_to_match_set",
                column_set=["image_id", "bytes", "w", "h", "fmt",
                            "caption", "phash"])
        .expect("expect_column_values_to_not_be_null", column="caption",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="fmt",
                value_set=["jpeg", "png", "webp"], mostly=0.99)
        .expect("expect_column_values_to_be_between", column="w",
                min_value=1, max_value=64)
        .expect("expect_column_values_to_be_between", column="h",
                min_value=1, max_value=64)
        .expect("expect_column_value_lengths_to_be_between",
                column="caption", min_value=1, max_value=200, mostly=0.99)
        .expect("expect_column_mean_to_be_between", column="w",
                min_value=8, max_value=40)
        .expect("expect_column_unique_value_count_to_be_between",
                column="fmt", min_value=1, max_value=10)
        .expect("expect_column_values_to_be_unique", column="image_id",
                mostly=0.99)
        .expect("expect_image_bytes_to_be_decodable", column="bytes",
                mostly=0.99)
        .expect("expect_image_dimensions_to_match_metadata",
                column="bytes", mostly=0.99)
        .expect("expect_image_format_to_match_metadata", column="bytes",
                mostly=0.99)
        .expect("expect_image_phash_to_match", column="bytes",
                max_hamming_distance=0, mostly=0.95)
    )


def _parquet_files(path):
    out = []
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(root, f), path))
    return sorted(out)


def _fmt_groups(files):
    return len({f.split(os.sep)[0] for f in files})


def _link_tree(src, dst, files):
    for rel in files:
        os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
        os.link(os.path.join(src, rel), os.path.join(dst, rel))


class ImageSuite:
    """Compiled validates of the flagship image suite, with the
    checkpoint runner's full, resume and incremental runs in between.

    One cycle is [v, v, full, v, v, resume, v, v, incremental]: the
    checkpoint table is reset to the base files, validated in full,
    one committed group state is deleted and the run resumed, then a
    ~5% append with fresh ids is validated incrementally."""

    name = "image_suite"
    whole_cycles = True
    # at least two of each checkpoint run, and the same op mix
    # whatever the host's speed
    min_cycles = 2
    op_layer = None
    primary = "compiled_validate"

    def __init__(self, rows: int):
        self.rows = rows
        self.delta_rows = max(rows // 20, 1)

    def setup(self, spark, workdir, seed):
        import great_expectations_spark as ges
        from great_expectations_spark.data.images import (
            images_df,
            write_images_table,
        )
        from pyspark.sql import functions as F

        self.spark, self.workdir = spark, workdir
        self.table = os.path.join(workdir, "images")
        write_images_table(spark, self.table, n_rows=self.rows, seed=seed)
        self.delta = os.path.join(workdir, "images_delta")
        images_df(spark, n_rows=self.delta_rows, seed=seed + 1).withColumn(
            "image_id", F.concat(F.lit("delta_"), "image_id")
        ).write.partitionBy("fmt").parquet(self.delta)
        self.base_files = _parquet_files(self.table)
        self.delta_files = _parquet_files(self.delta)
        self.df = spark.read.parquet(self.table)
        t0 = time.perf_counter()
        cold = ges.validate(self.df, image_suite(), result_format="SUMMARY")
        self.cold_validate_s = time.perf_counter() - t0
        self.cold_summary = evr_summary(cold.to_json_dict())
        self.compiled = ges.compile_suite(
            image_suite(), self.df.schema, spark, result_format="SUMMARY"
        )
        self.warm_summary = evr_summary(self.compiled.validate(self.df)
                                        .to_json_dict())
        self.ck_table = os.path.join(workdir, "ck_table")
        self.state = os.path.join(workdir, "ck_state")

    def verify_setup(self):
        """Reference EVRs: the base table's (agreeing with DuckDB on
        every non-payload expectation) and the base+delta table's."""
        self.ref = self.warm_summary
        ok = self.ref == self.cold_summary and _no_exceptions(self.ref)
        ok = ok and self._duckdb_agrees(self.table, self.ref)
        both = os.path.join(self.workdir, "images_plus_delta")
        _link_tree(self.table, both, self.base_files)
        _link_tree(self.delta, both, self.delta_files)
        self.ref_delta = evr_summary(
            self.compiled.validate(self.spark.read.parquet(both))
            .to_json_dict()
        )
        ok = ok and _no_exceptions(self.ref_delta)
        ok = ok and self._duckdb_agrees(both, self.ref_delta)
        self.reference_ok = ok
        return ok

    @staticmethod
    def _duckdb_agrees(path, summary) -> bool:
        src = f"read_parquet('{path}/*/*.parquet', hive_partitioning=true)"
        q = duckdb.sql(f"""
            SELECT count(*),
                   count(*) FILTER (WHERE caption IS NULL),
                   count(*) FILTER (WHERE fmt NOT IN ('jpeg','png','webp')),
                   count(*) FILTER (WHERE w NOT BETWEEN 1 AND 64),
                   count(*) FILTER (WHERE h NOT BETWEEN 1 AND 64),
                   count(*) FILTER (
                       WHERE length(caption) NOT BETWEEN 1 AND 200),
                   avg(w),
                   count(DISTINCT fmt)
            FROM {src}""").fetchone()
        dup = duckdb.sql(f"""
            SELECT coalesce(sum(c), 0) FROM (
              SELECT count(*) AS c FROM {src} GROUP BY image_id HAVING c > 1)
        """).fetchone()[0]
        n, nulls, not_in, bad_w, bad_h, bad_len, mean_w, n_fmt = q
        by_pos = {1: nulls, 2: not_in, 3: bad_w, 4: bad_h, 5: bad_len,
                  8: int(dup)}
        for pos, want in by_pos.items():
            if summary[pos][3] != n or summary[pos][5] != want:
                return False
        obs_mean = json.loads(summary[6][6])
        obs_fmt = json.loads(summary[7][6])
        return _close(obs_mean, mean_w) and obs_fmt == n_fmt

    def _reset_checkpoint(self):
        for d in (self.ck_table, self.state):
            shutil.rmtree(d, ignore_errors=True)
        _link_tree(self.table, self.ck_table, self.base_files)

    def _checkpoint(self, run_id, base=None):
        from great_expectations_spark import CheckpointRunner

        res = CheckpointRunner(
            self.spark, self.ck_table, image_suite(), self.state, run_id,
            group_col="fmt", base_run_id=base,
        ).run()
        state_bytes = 0
        for root, _, files in os.walk(self.state):
            state_bytes += sum(
                os.path.getsize(os.path.join(root, f)) for f in files
            )
        return {
            "json": res.to_json_dict(),
            "groups_computed": res.meta.get("groups_computed"),
            "state_bytes": state_bytes,
        }

    def _validate(self):
        return {"json": self.compiled.validate(self.df).to_json_dict()}

    def _before_resume(self):
        # lose the largest group's state, so every resume recomputes
        # the same share of the table
        d = os.path.join(self.state, "run=full", "groups")
        victim = max(os.listdir(d),
                     key=lambda f: os.path.getsize(os.path.join(d, f)))
        os.remove(os.path.join(d, victim))

    def _before_incremental(self):
        _link_tree(self.delta, self.ck_table, self.delta_files)

    def warmup(self, rng):
        # one operation of each kind, the checkpoint runs in the order
        # each needs the last's state
        c = self.cycle(rng)
        return [c[0], c[2], c[3], c[5], c[8]]

    def cycle(self, rng):
        v = ("compiled_validate", self._validate)
        return [
            v, v,
            ("checkpoint_full", lambda: self._checkpoint("full")),
            v, v,
            ("checkpoint_resume", lambda: self._checkpoint("full")),
            v, v,
            ("checkpoint_incremental",
             lambda: self._checkpoint("incr", base="full")),
        ]

    def prepare(self, kind):
        """Untimed work before an operation: data arriving or being
        lost, which is not the engine's work."""
        if kind == "checkpoint_full":
            self._reset_checkpoint()
        elif kind == "checkpoint_resume":
            self._before_resume()
        elif kind == "checkpoint_incremental":
            self._before_incremental()

    def check(self, kind, out) -> bool:
        if not self.reference_ok:
            return False
        summary = evr_summary(out["json"])
        if kind == "compiled_validate":
            return summary == self.ref
        # one group per fmt value: all of them in a full run, the one
        # whose state was deleted on resume, the appended ones after
        groups = {
            "checkpoint_full": _fmt_groups(self.base_files),
            "checkpoint_resume": 1,
            "checkpoint_incremental": _fmt_groups(self.delta_files),
        }[kind]
        want = self.ref_delta if kind == "checkpoint_incremental" else self.ref
        return out["groups_computed"] == groups and summary == want


# -- micro_batches ------------------------------------------------------------

def lineitem_suite():
    import great_expectations_spark as ges

    return (
        ges.suite("lineitem-batches")
        .expect("expect_column_values_to_not_be_null", column="l_orderkey")
        .expect("expect_column_values_to_not_be_null", column="l_discount",
                mostly=0.99)
        .expect("expect_column_values_to_be_in_set", column="l_returnflag",
                value_set=["A", "N", "R"])
        .expect("expect_column_values_to_be_between", column="l_discount",
                min_value=0.0, max_value=0.1)
        .expect("expect_column_values_to_be_between", column="l_quantity",
                min_value=1, max_value=50)
        .expect("expect_column_mean_to_be_between", column="l_quantity",
                min_value=20, max_value=30)
        .expect("expect_column_stdev_to_be_between", column="l_quantity",
                min_value=10, max_value=20)
        .expect("expect_column_value_z_scores_to_be_less_than",
                column="l_extendedprice", threshold=2.5, mostly=0.9)
        .expect("expect_compound_columns_to_be_unique",
                column_list=["l_orderkey", "l_linenumber"])
        .expect("expect_foreign_keys_to_exist", column="l_orderkey",
                reference_table_name="orders", reference_column="o_orderkey",
                mostly=0.99)
        .expect("expect_column_quantile_values_to_be_between",
                column="l_quantity",
                quantile_ranges={"quantiles": [0.25, 0.5, 0.75],
                                 "value_ranges": [[1, 20], [15, 35],
                                                  [30, 50]]})
        .expect("expect_column_values_to_be_between", column="l_tax",
                min_value=0.0, max_value=0.08,
                row_condition="l_returnflag = 'R'", condition_parser="spark")
    )


class MicroBatches:
    """One-shot validates of small lineitem batches, in seeded order,
    each against `orders` through aux_tables. Per-batch fixed cost
    (compile, about 20 Spark jobs, the foreign-key join, the classic
    plan the z-score check forces) dominates; no payload UDF runs."""

    name = "micro_batches"
    whole_cycles = False
    min_cycles = 0
    op_layer = None
    primary = "batch_validate"

    def __init__(self, n_orders: int, n_batches: int):
        self.n_orders, self.n_batches = n_orders, n_batches

    def setup(self, spark, workdir, seed):
        import great_expectations_spark as ges

        self.spark = spark
        self.dir = os.path.join(workdir, "batches")
        self.files = datagen.write_lineitem_batches(
            self.dir, seed, self.n_orders, self.n_batches
        )
        self.orders = spark.read.parquet(
            os.path.join(self.dir, "orders.parquet"))
        self.suite = lineitem_suite()
        self.warm = ges.validate(
            spark.read.parquet(self.files[0]), self.suite,
            aux_tables={"orders": self.orders}, result_format="SUMMARY",
        ).to_json_dict()

    def verify_setup(self):
        """DuckDB answers for every batch, by batch file."""
        src = f"read_parquet('{self.dir}/lineitem_b*.parquet', filename=true)"
        orders = f"'{self.dir}/orders.parquet'"
        rows = duckdb.sql(f"""
            WITH li AS (SELECT * FROM {src}),
            st AS (SELECT filename, avg(l_extendedprice) AS m,
                          stddev_samp(l_extendedprice) AS s
                   FROM li GROUP BY filename),
            dup AS (SELECT filename, sum(c) AS d FROM (
                      SELECT filename, count(*) AS c FROM li
                      GROUP BY filename, l_orderkey, l_linenumber
                      HAVING c > 1) GROUP BY filename)
            SELECT li.filename, count(*),
              count(*) FILTER (WHERE l_orderkey IS NULL),
              count(*) FILTER (WHERE l_discount IS NULL),
              count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')),
              count(*) FILTER (WHERE l_discount NOT BETWEEN 0 AND 0.1),
              count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50),
              avg(l_quantity), stddev_samp(l_quantity),
              count(*) FILTER (
                  WHERE abs((l_extendedprice - st.m) / st.s) >= 2.5),
              coalesce(any_value(dup.d), 0),
              count(*) FILTER (WHERE l_orderkey NOT IN
                               (SELECT o_orderkey FROM {orders})),
              list_sort(list(l_quantity)),
              count(*) FILTER (WHERE l_returnflag = 'R'),
              count(*) FILTER (WHERE l_returnflag = 'R'
                               AND l_tax NOT BETWEEN 0 AND 0.08)
            FROM li JOIN st USING (filename) LEFT JOIN dup USING (filename)
            GROUP BY li.filename""").fetchall()
        self.expected = {os.path.basename(r[0]): r[1:] for r in rows}
        self.reference_ok = (
            len(self.expected) == len(self.files)
            and self._agrees(self.files[0], self.warm)
        )
        return self.reference_ok

    def _agrees(self, path, result_json) -> bool:
        (n, null_key, null_disc, not_in, bad_disc, bad_qty, mean_q, std_q,
         z_out, dup, orphans, qtys, n_r, bad_tax) = self.expected[
            os.path.basename(path)]
        s = evr_summary(result_json)
        if not _no_exceptions(s):
            return False
        counts = {0: null_key, 1: null_disc, 2: not_in, 3: bad_disc,
                  4: bad_qty, 7: z_out, 8: int(dup), 9: orphans}
        for pos, want in counts.items():
            if s[pos][3] != n or s[pos][5] != want:
                return False
        if not (_close(json.loads(s[5][6]), mean_q)
                and _close(json.loads(s[6][6]), std_q)):
            return False
        # exact quantile: the value at rank ceil(q * n)
        want_q = [qtys[max(math.ceil(q * len(qtys)), 1) - 1]
                  for q in (0.25, 0.5, 0.75)]
        if json.loads(s[10][6])["values"] != want_q:
            return False
        return s[11][3] == n_r and s[11][5] == bad_tax

    def warmup(self, rng):
        return self.cycle(rng)[:10]

    def cycle(self, rng):
        order = rng.permutation(len(self.files))
        return [("batch_validate", self._op(self.files[i])) for i in order]

    def _op(self, path):
        import great_expectations_spark as ges

        def run():
            res = ges.validate(
                self.spark.read.parquet(path), self.suite,
                aux_tables={"orders": self.orders}, result_format="SUMMARY",
            )
            return {"json": res.to_json_dict(), "path": path}

        return run

    def prepare(self, kind):
        pass

    def check(self, kind, out) -> bool:
        return self.reference_ok and self._agrees(out["path"], out["json"])


# -- operator_queries ---------------------------------------------------------

def _oracle_helpers():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        import check_oracle
    finally:
        sys.path.pop(0)
    return check_oracle


def _digest(cols, rows) -> str:
    return hashlib.sha256(
        json.dumps([cols, rows], default=str).encode()).hexdigest()


class OperatorQueries:
    """Every registered query, output fully materialized (collected),
    checked against its DuckDB oracle."""

    name = "operator_queries"
    whole_cycles = True
    min_cycles = 1
    op_layer = "suite_queries.run"
    primary = "query."

    def __init__(self, sizes: dict):
        self.sizes = sizes

    def setup(self, spark, workdir, seed):
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = os.path.join(workdir, "tables")
        datagen.write_query_tables(self.dir, seed, **self.sizes)
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        # warm the session on one query; the timed passes run every
        # query, each for the first time in this session on pass one
        self.queries["fused_column_stats"](spark, self.dir).collect()
        self.digests = {}

    def verify_setup(self):
        helpers = _oracle_helpers()
        self.norm_rows, self.check_types = (helpers.norm_rows,
                                            helpers.check_types)
        con = duckdb.connect()
        for t in helpers.TABLES:
            con.sql(f"CREATE VIEW {t} AS "
                    f"SELECT * FROM '{self.dir}/{t}.parquet'")
        self.expected = {}
        for name, sql in self.oracles.items():
            res = con.sql(sql)
            cols, types = res.columns, res.types
            self.expected[name] = (cols, types, self.norm_rows(
                cols, [tuple(r) for r in res.fetchall()]))
        con.close()
        self.reference_ok = set(self.expected) == set(self.queries)
        return self.reference_ok

    def warmup(self, rng):
        return []

    def cycle(self, rng):
        # a fixed order: which queries run while the JVM is still
        # warming would otherwise vary with the seed
        return [(f"query.{n}", self._op(n)) for n in sorted(self.queries)]

    def _op(self, name):
        fn = self.queries[name]

        def run():
            sdf = fn(self.spark, self.dir)
            rows = [tuple(r) for r in sdf.collect()]
            return {"name": name, "df": sdf, "rows": rows}

        return run

    def prepare(self, kind):
        pass

    def check(self, kind, out) -> bool:
        if not self.reference_ok:
            return False
        name, sdf = out["name"], out["df"]
        dcols, dtypes, (dc, dr) = self.expected[name]
        sc, sr = self.norm_rows(sdf.columns, out["rows"])
        ok = (sc == dc and sr == dr
              and not self.check_types(name, sdf.columns, sdf.dtypes,
                                       dcols, dtypes))
        digest = _digest(sc, sr)
        ok = ok and self.digests.setdefault(name, digest) == digest
        return ok

