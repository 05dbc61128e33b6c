"""registry_sf01: a fixed set of registry queries over the sf0.1 tables in
`data/sf0.1/` (the engine's seed-42 reference test data at scale factor
0.1, 600k lineitem rows), materialised through the noop sink, in an order
shuffled per pass from the seed."""

from __future__ import annotations

import os
import random
import sys
import time

from checks import oracle_error
from harness import DATA, Run

# One query from each of the eight families that take most of a full
# registry pass (a, g, dd, txt, llm, sim, j, st) plus mm1, chosen near each
# family's median cost and so that every traced operators module (graph,
# dedup, similarity, text, joins, windows, sampling, multimodal) is called
# by at least one of them.
QUERIES = (
    "a11_grouped_mode",
    "g11_adamic_adar",
    "dd5_embedding_neardup",
    "txt12_pmi_bigrams",
    "llm3_quota_sample",
    "sim2_lsh_bucketed_topk",
    "j6_first_match_join",
    "st10_running_distinct",
    "mm1_binary_metadata",
)
FAMILIES = ("a", "g", "dd", "txt", "llm", "sim", "j", "st")


def family(name: str) -> str:
    return name.split("_", 1)[0].rstrip("0123456789b")


def pass_order(seed: int, pass_id: str) -> list[str]:
    """The queries of one pass in an order that depends only on the seed
    and the pass."""
    order = sorted(QUERIES)
    random.Random(f"{seed}:{pass_id}").shuffle(order)
    return order


class RegistryWorkload:
    min_passes = 2
    warmup_passes = 2

    def __init__(self, run: Run):
        self.run = run
        self.data = os.path.join(DATA, "sf0.1")
        self.tables = sorted(f.removesuffix(".parquet") for f in os.listdir(self.data))

    def setup(self) -> None:
        from com_danliris_service_etl_spark.plans.registry import load_all

        run = self.run
        registry = load_all()
        missing = [n for n in QUERIES if n not in registry]
        if missing:
            raise KeyError(f"registry queries not found: {missing}")
        self.queries = {n: registry[n] for n in QUERIES}
        # Check pass: every query collected and compared with its DuckDB
        # oracle on the same files. Then untimed passes exactly like the
        # timed ones, as the JVM is still compiling: after one, the first
        # timed pass still read slower than the second, and over ten runs
        # its wall time spread about 1.6 times as widely.
        t0 = time.perf_counter()
        self.check_errors = {n: self._check(n) for n in pass_order(run.seed, "check")}
        for k in range(self.warmup_passes):
            self.run_pass(f"warmup{k}", timed=False)
        print(f"[perfbench] check and warm-up passes {time.perf_counter() - t0:.1f} s", file=sys.stderr)

    def _check(self, name: str) -> str | None:
        fn, sql = self.queries[name]
        self.run.set_op("check", name)
        try:
            actual = fn(self.run.spark, self.data).toPandas()
        except Exception as exc:  # noqa: BLE001 — a raising query is a failed operation
            return f"raised: {exc!s:.300}"
        if sql is None:
            return None if len(actual) else "no rows"
        return oracle_error(actual, sql, self.data, self.tables)

    def run_pass(self, pass_id: str, timed: bool = True) -> float:
        with self.run.memory.measuring():
            return self._run_pass(pass_id, timed)

    def _run_pass(self, pass_id: str, timed: bool) -> float:
        run, tracer = self.run, self.run.tracer
        t_pass = time.perf_counter()
        for name in pass_order(run.seed, pass_id):
            fn, _sql = self.queries[name]
            run.set_op(pass_id, name)
            t0 = time.perf_counter()
            error = None
            try:
                df = tracer.call("plans.registry.build", fn, run.spark, self.data)
                tracer.call("plans.registry.exec", df.write.format("noop").mode("overwrite").save)
            except Exception as exc:  # noqa: BLE001 — counted, the loop goes on
                error = f"raised: {exc!s:.300}"
            if timed:
                run.record_op(pass_id, name, time.perf_counter() - t0)
                run.tally.record(name, error)
            elif error is not None:
                self.check_errors[name] = self.check_errors[name] or error
        return time.perf_counter() - t_pass

    def layer_extras(self) -> dict[str, float]:
        return {}

    def finish(self) -> None:
        for name, error in self.check_errors.items():
            if error is not None:
                self.run.tally.fail(name, f"output check: {error}")
