"""The yardstick job: a fixed plain-PySpark query the benchmark runs
after every operation, to gauge how fast the shared host runs just then.

The host is a shared 4-vCPU VM whose speed drifts: a single-thread
spin loop ranged from 0.09 to 0.17 s within twenty seconds, and
twofold slow spells last minutes. An operation's wall time moves with
it. The yardstick does the kinds of work an operation does -- a parquet
scan over four tasks, an Arrow Python stage, a join and a shuffled
aggregation -- through Spark alone, never through the engine, on inputs
that do not depend on the seed. The end-to-end figures give each
operation's time in units of the yardstick run right after it, so the
host's speed cancels while the engine's own cost stays in.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = 40_000
FILES = 4
GROUPS = 16
DIM_KEYS = 9_000


class Yardstick:
    def __init__(self, spark, workdir):
        self.spark = spark
        self.dir = os.path.join(workdir, "yardstick")
        self.facts = os.path.join(self.dir, "facts")
        self.dim = os.path.join(self.dir, "dim.parquet")
        os.makedirs(self.facts)
        rng = np.random.default_rng(0)
        k = rng.integers(0, 10_000, ROWS)
        words = np.array(["spark", "table", "row", "value", "key", "join"])
        s = words[rng.integers(0, len(words), ROWS)]
        v = rng.normal(100.0, 15.0, ROWS)
        step = ROWS // FILES
        for i in range(FILES):
            part = slice(i * step, (i + 1) * step)
            pq.write_table(
                pa.table({"k": k[part], "v": v[part], "s": s[part]}),
                os.path.join(self.facts, f"part-{i}.parquet"),
            )
        pq.write_table(pa.table({"k": np.arange(DIM_KEYS)}), self.dim)
        # exact answers, computed without Spark
        self.expected = (
            tuple(int(c) for c in np.bincount(k % GROUPS,
                                              minlength=GROUPS)),
            int((k >= DIM_KEYS).sum()),
            int(sum(len(w) for w in s)),
        )
        self.walls = []

    def _query(self):
        from pyspark.sql import functions as F

        def lengths(batches):
            for pdf in batches:
                yield pdf.assign(n=pdf["s"].str.len())[["k", "n"]]

        facts = self.spark.read.parquet(self.facts)
        dim = (self.spark.read.parquet(self.dim)
               .withColumn("known", F.lit(1)))
        rows = (facts.mapInPandas(lengths, "k long, n long")
                .join(dim, "k", "left")
                .groupBy((F.col("k") % GROUPS).alias("g"))
                .agg(F.count("*").alias("c"), F.sum("n").alias("n"),
                     F.count("known").alias("known"))
                .collect())
        rows = sorted(rows)
        return (tuple(r["c"] for r in rows),
                sum(r["c"] - r["known"] for r in rows),
                sum(r["n"] for r in rows))

    def run(self) -> bool:
        """Run the job once, record its wall time, check its answer."""
        t0 = time.perf_counter()
        out = self._query()
        self.walls.append(time.perf_counter() - t0)
        return out == self.expected
