"""``query_headline``: registry queries built and executed to the noop
sink, one after another, over the tables shipped in ``data/sf0.01``.

Set-up runs every qid once with ``toPandas()`` and checks the result
against ``expected_query.json`` (outside the timed region), then runs one
untimed pass to the noop sink; these two passes pay the first-execution
JIT and codegen costs. The timed loop then runs whole passes over the
qids, each pass in an order drawn from the seed.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from harness import Recorder, median
from qcheck import result_digest

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")

# Five of the 36 ``bench=True`` headline qids. Two are the targets of
# later work on eager jobs and iterative operators: q_doc_similarity fires
# the most build-time jobs of all 36, and q_unigram_lm hand-rolls its own
# EM fixpoint loop. The other three are relational joins and aggregates
# over tables loaded per call (q_region_revenue runs one schema job per
# load) and an as-of join over events. At sf0.01 on 4 vCPU all 36 take
# ~60 s cold and ~30 s warm per pass, more than one run's budget;
# q_kmeans_centroids, also iterative and job-heavy, is left out because it
# alone takes ~4 s warm.
HEADLINE_QIDS = [
    "q_pricing_summary",
    "q_region_revenue",
    "q_asof_join",
    "q_doc_similarity",
    "q_unigram_lm",
]


class QueryHeadline:
    # Every loop runs for the requested seconds and at least MIN_CYCLES
    # cycles (here query passes), so its medians have enough samples even
    # when one cycle outlasts the run.
    MIN_CYCLES = 3

    def __init__(self, spark, seed: int, work_dir: str, rec: Recorder, tracer=None) -> None:
        from incremental_dagster_delta_spark.queries import QUERIES

        self.spark = spark
        self.rng = random.Random(seed)
        self.rec = rec
        self.tracer = tracer
        self.specs = {q: QUERIES[q] for q in HEADLINE_QIDS}
        for q, spec in self.specs.items():
            if not spec.bench:
                raise ValueError(f"{q} is not a bench=True registry query")
        with open(os.path.join(HERE, "expected_query.json")) as fh:
            self.expected = json.load(fh)
        self.passes: list[float] = []

    def _build(self, qid: str):
        if self.tracer is not None:
            return self.tracer.build_query(self.specs[qid].fn, self.spark, SF_DIR)
        return self.specs[qid].fn(self.spark, SF_DIR)

    def setup(self) -> None:
        order = list(HEADLINE_QIDS)
        self.rng.shuffle(order)
        for qid in order:
            got = None
            try:
                got = result_digest(self.specs[qid].fn(self.spark, SF_DIR).toPandas())
            except Exception as exc:  # a qid that raises is a failed check
                self.rec.check(f"check:{qid}", False, f"{type(exc).__name__}: {exc}")
                continue
            finally:
                self.spark.catalog.clearCache()
            want = self.expected.get(qid)
            self.rec.check(f"check:{qid}", got == want, f"got {got} want {want}")
        # One untimed pass more: the JVM still compiles hot paths after the
        # first, and without this pass the first timed one ran up to ~25%
        # above the later ones.
        self._pass(timed=False)

    def _run(self, qid: str) -> None:
        with self.rec.op("qid", qid=qid) as op:
            df = self._build(qid)
            op.info["build_s"] = time.perf_counter() - op.start
            df.write.format("noop").mode("overwrite").save()
        if self.tracer is not None and op.ok:
            self.tracer.catalyst(df, op)

    def _pass(self, timed: bool) -> None:
        order = list(HEADLINE_QIDS)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        for qid in order:
            if timed:
                self._run(qid)
            else:
                self._build(qid).write.format("noop").mode("overwrite").save()
            self.spark.catalog.clearCache()
        if timed:
            self.passes.append(time.perf_counter() - t0)

    def loop(self, deadline: float) -> None:
        while len(self.passes) < self.MIN_CYCLES or time.perf_counter() < deadline:
            self._pass(timed=True)

    def verify(self) -> None:
        pass  # every qid was checked in set-up

    def n_primary(self) -> int:
        return len(self.passes)

    def metrics(self) -> tuple[dict, dict]:
        qids = self.rec.of("qid")
        by_qid: dict[str, list] = {}
        for o in qids:
            by_qid.setdefault(o.info["qid"], []).append(o)
        per_qid = [median(o.wall for o in v) for v in by_qid.values()]
        per_qid_cpu = [median(o.cpu for o in v) for v in by_qid.values()]
        walls = [o.wall for o in qids]
        generic = {
            "op_cpu_s": sum(per_qid_cpu),
            "light_op_cpu_s": statistics.geometric_mean(per_qid_cpu),
        }
        named = {
            "query_total_s": (sum(per_qid), "s"),
            "query_p50_s": (median(per_qid), "s"),
            "query_build_p50_s": (median(o.info["build_s"] for o in qids if o.ok), "s"),
            "qids_per_s": (len(walls) / sum(walls), "1/s"),
            "passes": (len(self.passes), "count"),
        }
        return generic, named
