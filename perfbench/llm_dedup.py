"""llm_dedup — operator-heavy corpus prep over ``documents`` and
``embeddings``.

The inputs are a seed-chosen sample of both tables (a fixed number of
rows, so every seed does the same amount of work). One round calls each
operator once, in a seed-shuffled order, through the registry query that
wraps it, and pulls the result to the driver as Arrow. The warm-up pass
runs every operator on the same sample, first concurrently, then once
more one after another.
"""

from __future__ import annotations

import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

from common import Ctx, compare, concurrently, duck, median, app_cpu_s
from fabrix_spark.operators import dedup
from fabrix_spark.queries import REGISTRY

# span name -> registry query that calls the operator
OPERATORS = {
    "operators.text.quality": "t_quality",
    "operators.dedup.minhash": "d_minhash_lsh",
    "operators.dedup.jaccard": "d_jaccard_pairs",
    "operators.dedup.semdedup": "d_semdedup_pairs",
    "operators.similarity.cosine_topk": "sim_cosine_topk",
    "operators.search.bm25": "t_bm25_search",
    "operators.pipeline_llm_prep": "pipeline_llm_prep",
}
DOCS, VECS = 1000, 1600  # of 5000 and 2000


class LlmDedup:
    name = "llm_dedup"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.results: dict[str, pa.Table] = {}
        self.round_s: list[float] = []
        self.round_cpu: list[float] = []
        self.rounds = 0

    def _sample(self, rng: random.Random, d: str, n_docs: int, n_vecs: int) -> None:
        """Write ``n_docs`` documents and ``n_vecs`` embeddings (always
        including vec_id 0-7, the cosine top-k query vectors) to ``d``."""
        os.makedirs(d)
        docs = pq.read_table(self.ctx.table("documents"))
        keep = sorted(rng.sample(range(docs.num_rows), n_docs))
        pq.write_table(docs.take(pa.array(keep)), os.path.join(d, "documents.parquet"))
        emb = pq.read_table(self.ctx.table("embeddings"))
        ids = emb.column("vec_id").to_pylist()
        fixed = [i for i, v in enumerate(ids) if v < 8]
        rest = [i for i, v in enumerate(ids) if v >= 8]
        keep = sorted(fixed + rng.sample(rest, n_vecs - len(fixed)))
        pq.write_table(emb.take(pa.array(keep)), os.path.join(d, "embeddings.parquet"))

    def inputs(self, d: str) -> dict:
        rng = random.Random(self.ctx.seed)
        self._sample(rng, os.path.join(d, "corpus"), DOCS, VECS)
        order = list(OPERATORS)
        rng.shuffle(order)
        return {"dir": os.path.join(d, "corpus"), "order": order}

    def expect(self, inp: dict) -> dict:
        """Each operator's DuckDB oracle over the same inputs."""
        d = inp["dir"]
        con = duck({t: os.path.join(d, f"{t}.parquet") for t in ("documents", "embeddings")})
        out: dict[str, pa.Table] = {}

        def oracle(span: str) -> None:
            cur = con.cursor()  # one DuckDB cursor per thread
            try:
                out[span] = cur.execute(REGISTRY[OPERATORS[span]].oracle).arrow()
            finally:
                cur.close()

        try:
            concurrently([lambda s=s: oracle(s) for s in OPERATORS])
        finally:
            con.close()
        return out

    def build(self, d: str) -> dict:
        return self.inputs(d)

    def _call(self, span: str, d: str) -> pa.Table:
        ctx = self.ctx
        with ctx.span(span):
            with ctx.span(span + ".plan"):
                df = REGISTRY[OPERATORS[span]].fn(ctx.spark, d)
            with ctx.span(span + ".exec"):
                return df.toArrow()

    def warm(self, d: str) -> None:
        """Every operator once concurrently (cold code generation and
        Python worker start-up), then once more in a round's order: the
        first round after the concurrent pass alone still costs 15-20 %
        more CPU than the next one while the JIT compiles."""
        inp = self.inputs(d)
        concurrently([lambda s=s: self._call(s, inp["dir"]) for s in OPERATORS])
        for span in inp["order"]:
            self._call(span, inp["dir"])

    def round(self, st: dict) -> None:
        c0 = app_cpu_s()
        t0 = time.perf_counter()
        for span in st["order"]:
            with self.ctx.op("operator"):
                tbl = self._call(span, st["dir"])
            self.results.setdefault(span, tbl)
        self.round_s.append(time.perf_counter() - t0)
        self.round_cpu.append(app_cpu_s() - c0)
        self.rounds += 1

    def check(self, st: dict, expected: dict) -> None:
        con = duck({})
        try:
            for span, q in OPERATORS.items():
                if span not in self.results:
                    self.ctx.fail(f"{q}: no result")
                    continue
                err = compare(con, self.results[span], expected[span])
                if err:
                    self.ctx.fail(f"{q}: {err}")
        finally:
            con.close()

    def metrics(self, st: dict) -> dict:
        """The operation a user waits for is one corpus-prep pass over
        all seven operators; the median of single operator calls would
        jump between operators of different cost."""
        docs = DOCS * self.rounds / sum(self.round_s)
        return {
            "op_p50_s": median(self.round_s),
            "work_per_s": docs,
            "docs_per_s": docs,
            "op_cpu_s": median(self.round_cpu),
            "work_per_cpu_s": DOCS * self.rounds / sum(self.round_cpu),
        }

    def layer_metrics(self, st: dict) -> dict:
        """Operator spans, plus the LSH candidate precision measured
        once after the timed region: verified near-duplicate pairs over
        the banded candidate pairs they were verified from."""
        tr, spark = self.ctx.tracer, self.ctx.spark
        out = {}
        for span in OPERATORS:
            key = span.replace("operators.", "")
            out[f"operators.{key}_s"] = median([s.dur for s in tr.by_name(span)])
            out[f"operators.{key}.plan_s"] = tr.self_p50(span + ".plan")
            out[f"operators.{key}.exec_s"] = tr.self_p50(span + ".exec")
        docs = spark.read.parquet(os.path.join(st["dir"], "documents.parquet"))
        sigs = dedup.minhash_signatures(docs, 16, 3)
        cands = dedup.lsh_candidate_pairs(sigs, 16, 4).count()
        verified = self.results["operators.dedup.minhash"].num_rows
        out["operators.dedup.lsh_precision"] = verified / cands if cands else 0.0
        return out
