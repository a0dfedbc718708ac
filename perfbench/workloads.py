"""The three workloads: which ops run, in what seeded order, and what
each op's output must equal.

An :class:`Op` is one closed-loop step.  ``run`` is the timed call into
the engine's public surface (a registry ``QuerySpec.fn`` or an ``ext``
lifecycle function); when it returns a DataFrame, the harness
materializes it with a ``noop`` write inside the same timer.  ``expect``
(called outside the timer) gives the value hash the output must have.
``after`` runs outside the timer once the op is checked.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import uuid
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow.parquet as pq

import gen

# --- op lists ---------------------------------------------------------------

ETL_OPS = (
    # the reference's own 311 surface: watermark sync, reconcile, merge,
    # gold projection of the cleaned cases, batched sink
    "a1_max_watermark",
    "j3_anti_reconcile",
    "k3_upsert_merge",
    "o5_latest_per_key",
    "pipeline_gold_projection",
    "k5_batched_writer_roundtrip",
    "stream_merge_latest",  # the incremental MERGE as a structured stream
    # the TPC-H head
    "q01_pricing_summary",
    "q05_nation_revenue",
)

CURATION_OPS = (
    "dedup_exact_groups",
    "dedup_simhash_signatures",
    "sim_lsh_ann_topk",
    "text_quality_scores",
    "text_contamination_13gram",
    "curation_end_to_end",
)

WARMUP_QUERY = "q10_returned_customers"  # in no op list
FAMILIES = ("bm25", "gram", "ann")
SERVES = 1  # serves per family per lifecycle pass


@dataclass
class Op:
    name: str
    kind: str  # query | build | append | delete | compact | serve | stream
    run: Callable[[], object]
    expect: Callable[[], dict] | None = None
    after: Callable[[], None] | None = None
    family: str | None = None
    out_dir: str | None = None  # the index directory a lifecycle op writes


# --- correctness references -------------------------------------------------


def value_hash(rows, cols) -> dict:
    from check_oracle import value_hash as vh

    return {"cols": sorted(cols), "hash": vh(rows, list(cols)), "rows": len(rows)}


def frame_hash(df) -> dict:
    return value_hash([tuple(r) for r in df.collect()], df.columns)


class HashCache:
    """Value hashes kept in a JSON file beside the data they describe;
    ``get`` computes and stores a missing one."""

    def __init__(self, path: str) -> None:
        self.path = path
        try:
            with open(path) as f:
                self.hashes = json.load(f)
        except (OSError, ValueError):
            self.hashes = {}

    def get(self, key: str, compute: Callable[[], dict]) -> dict:
        if key not in self.hashes:
            self.hashes[key] = compute()
            tmp = f"{self.path}.{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                json.dump(self.hashes, f)
            os.replace(tmp, self.path)
        return self.hashes[key]


class OracleCache:
    """DuckDB oracle hashes of registry queries over one data directory."""

    def __init__(self, data_dir: str) -> None:
        self.dir = data_dir
        self.cache = HashCache(os.path.join(data_dir, "oracle.json"))
        self._con = None

    def get(self, name: str) -> dict:
        return self.cache.get(name, lambda: self._oracle(name))

    def _oracle(self, name: str) -> dict:
        from pipeline311_spark.plans import REGISTRY

        odf = self._duck().execute(REGISTRY[name].oracle).fetchdf()
        rows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
        return value_hash(rows, list(odf.columns))

    def _duck(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in gen.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.dir, t)}.parquet')"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


# --- workloads ----------------------------------------------------------------


def noop(df) -> None:
    """Materialize every column of ``df`` and discard it (unlike
    ``count()``, which lets the optimizer prune the projected work)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """``ops(pass_no)`` gives one pass over the workload's op list;
    ``warmup`` is the untimed-in-the-pass first use (part of set-up)."""

    name = ""
    docs = 0  # corpus documents (curation throughput)

    def __init__(self, spark, data_dir: str) -> None:
        self.spark, self.dir = spark, data_dir

    def ops(self, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def warmup(self) -> None:
        from pipeline311_spark.plans import REGISTRY

        noop(REGISTRY[WARMUP_QUERY].fn(self.spark, self.dir))

    def close(self) -> None:
        pass


class RegistryWorkload(Workload):
    """A seeded order of registry queries, checked against their oracles."""

    def __init__(self, spark, data_dir: str, names, rng) -> None:
        super().__init__(spark, data_dir)
        self.oracles = OracleCache(data_dir)
        self.order = list(names)
        rng.shuffle(self.order)

    def ops(self, pass_no: int) -> list[Op]:
        from pipeline311_spark.plans import REGISTRY

        return [
            Op(n, "stream" if n.startswith("stream_") else "query",
               lambda n=n: REGISTRY[n].fn(self.spark, self.dir),
               expect=lambda n=n: self.oracles.get(n))
            for n in self.order
        ]

    def close(self) -> None:
        self.oracles.close()


class EtlQueries(RegistryWorkload):
    name = "etl_queries"

    def __init__(self, spark, ctx) -> None:
        super().__init__(spark, ctx.base_dir, ETL_OPS, ctx.rng)


class CurationX16(RegistryWorkload):
    name = "curation_x16"

    def __init__(self, spark, ctx) -> None:
        rots = gen.rotations(np.random.default_rng(ctx.seed), ctx.factor)
        # one directory per corpus (base x rotations), its oracle cache beside it
        data_dir = f"{ctx.base_dir}-x{ctx.factor}-r" + "-".join(map(str, rots))
        if not os.path.isdir(data_dir):
            tmp = f"{data_dir}.tmp{uuid.uuid4().hex[:8]}"
            gen.amplify(ctx.base_dir, tmp, rots)
            os.rename(tmp, data_dir)
        super().__init__(spark, data_dir, CURATION_OPS, ctx.rng)
        self.docs = pq.read_metadata(os.path.join(data_dir, "documents.parquet")).num_rows


class IndexLifecycle(Workload):
    """Per family: build -> append -> append -> delete -> compact ->
    serve x SERVES, into a fresh index directory each pass.  The seed
    orders the families and picks the splits: batch of an id =
    ``(id * a + b) % 10`` (0-5 build, 6-7 first append, 8-9 second
    append), deleted ids = ``id % 9 == r``."""

    name = "index_lifecycle"

    def __init__(self, spark, ctx) -> None:
        from pipeline311_spark.plans.common import emb_table, table

        super().__init__(spark, ctx.base_dir)
        self.tmp = ctx.tmp_dir
        rng = ctx.rng
        self.a, self.b, self.r = rng.choice((1, 3, 7, 9)), rng.randrange(10), rng.randrange(9)
        self.docs_df = table(spark, self.dir, "documents").select("doc_id", "text")
        self.emb = emb_table(spark, self.dir)
        self.family_order = list(FAMILIES)
        rng.shuffle(self.family_order)
        self.fresh = HashCache(os.path.join(self.dir, "fresh.json"))
        self.index_bytes: dict[str, float] = {}
        self.doc_bytes = self._survivor_bytes()

    # splits ------------------------------------------------------------
    def _batch(self, id_col: str, lo: int, hi: int):
        from pyspark.sql import functions as F

        k = (F.col(id_col) * self.a + self.b) % 10
        return (k >= lo) & (k < hi)

    def _deleted(self, id_col: str):
        from pyspark.sql import functions as F

        return F.col(id_col) % 9 == self.r

    def _survivor_bytes(self) -> dict[str, int]:
        d = pq.read_table(os.path.join(self.dir, "documents.parquet"), columns=["doc_id", "text"])
        ids = d.column("doc_id").to_numpy()
        keep = ids % 9 != self.r
        text_bytes = sum(len(t.encode()) for t, k in zip(d.column("text").to_pylist(), keep) if k)
        e = pq.read_table(os.path.join(self.dir, "embeddings.parquet"), columns=["vec_id"])
        n_vec = int((e.column("vec_id").to_numpy() % 9 != self.r).sum())
        return {"bm25": text_bytes, "gram": text_bytes, "ann": n_vec * gen.DIM * 4}

    # families ----------------------------------------------------------
    def _bm25(self, out: str, d) -> dict[str, Callable]:
        from pipeline311_spark.ext import retrieval as R
        from pipeline311_spark.plans.retrieval2 import _BM25_TOPK, _drop_score, _query_frame

        def serve(index_dir: str):
            idx = R.load_bm25_index(self.spark, index_dir)
            return _drop_score(R.bm25_topk(idx, _query_frame(self.spark), k=_BM25_TOPK))

        def fresh(fresh_dir: str):
            R.bm25_index_append_batch(d.filter(~self._deleted("doc_id")), 0, fresh_dir)
            return serve(fresh_dir)

        return {
            "build": lambda: R.bm25_index_append_batch(d.filter(self._batch("doc_id", 0, 6)), 0, out),
            "append1": lambda: R.bm25_index_append_batch(d.filter(self._batch("doc_id", 6, 8)), 1, out),
            "append2": lambda: R.bm25_index_append_batch(d.filter(self._batch("doc_id", 8, 10)), 2, out),
            "delete": lambda: R.bm25_index_delete_batch(d.filter(self._deleted("doc_id")), 0, out),
            "compact": lambda: R.bm25_index_compact(self.spark, out),
            "serve": lambda: serve(out),
            "fresh": fresh,
        }

    def _gram(self, out: str, d) -> dict[str, Callable]:
        from pipeline311_spark.ext import dedup as D
        from pipeline311_spark.plans.extensions import (
            _MH_BANDS, _MH_K, _MH_N, _MH_SEED, _MH_THRESHOLD,
        )

        def append(pred, bid: int, where: str):
            D.gram_log_append_batch(d.filter(pred), bid, where, "doc_id", "text", n=_MH_N)

        def serve(store: str):
            return D.minhash_pairs_from_grams(
                D.load_gram_log(self.spark, store), k=_MH_K, bands=_MH_BANDS,
                threshold=_MH_THRESHOLD, seed=_MH_SEED, persist=False,
            )

        def fresh(fresh_dir: str):
            append(~self._deleted("doc_id"), 0, fresh_dir)
            return serve(fresh_dir)

        return {
            "build": lambda: append(self._batch("doc_id", 0, 6), 0, out),
            "append1": lambda: append(self._batch("doc_id", 6, 8), 1, out),
            "append2": lambda: append(self._batch("doc_id", 8, 10), 2, out),
            "delete": lambda: D.gram_log_delete_batch(
                d.filter(self._deleted("doc_id")).select("doc_id"), 0, out),
            "compact": lambda: D.gram_log_compact(self.spark, out),
            "serve": lambda: serve(out),
            "fresh": fresh,
        }

    def _ann(self, out: str, e) -> dict[str, Callable]:
        from pyspark.sql import functions as F

        from pipeline311_spark.ext import ann_store as A
        from pipeline311_spark.plans.ann_store_q import _ANN_CELLS, _ANN_K, _ANN_NPROBE, _query_vecs
        from pipeline311_spark.plans.curation4 import _PQ_K

        v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))

        def build(where: str, pred):
            # the quantizer is trained on the full corpus and frozen; the
            # codes arrive in batches
            A.ann_quantizer_build(self.spark, v, where, n_cells=_ANN_CELLS, pq_k=_PQ_K)
            A.ann_codes_append_batch(e.filter(pred), 0, where)

        def serve(where: str):
            return A.ann_adc_topk_from_log(self.spark, where, _query_vecs(e), k=_ANN_K, nprobe=_ANN_NPROBE)

        def fresh(fresh_dir: str):
            build(fresh_dir, ~self._deleted("vec_id"))
            return serve(fresh_dir)

        return {
            "build": lambda: build(out, self._batch("vec_id", 0, 6)),
            "append1": lambda: A.ann_codes_append_batch(e.filter(self._batch("vec_id", 6, 8)), 1, out),
            "append2": lambda: A.ann_codes_append_batch(e.filter(self._batch("vec_id", 8, 10)), 2, out),
            "delete": lambda: A.ann_codes_delete_batch(
                e.filter(self._deleted("vec_id")).select("vec_id"), 0, out),
            "compact": lambda: A.ann_codes_compact(self.spark, out),
            "serve": lambda: serve(out),
            "fresh": fresh,
        }

    def _steps(self, fam: str, out: str) -> dict[str, Callable]:
        return getattr(self, f"_{fam}")(out, self.emb if fam == "ann" else self.docs_df)

    def _fresh_hash(self, fam: str, steps: dict[str, Callable]) -> dict:
        """The serve output of a fresh build over the surviving docs.  It
        depends only on the data and the deleted residue, so it is cached
        beside the data like the oracle hashes (built untimed on a miss)."""
        return self.fresh.get(f"{fam}:r{self.r}", lambda: self._fresh_build(steps))

    def _fresh_build(self, steps: dict[str, Callable]) -> dict:
        where = os.path.join(self.tmp, f"fresh_{uuid.uuid4().hex[:8]}")
        try:
            return frame_hash(steps["fresh"](where))
        finally:
            shutil.rmtree(where, ignore_errors=True)

    def _measure_index(self, fam: str, out: str) -> None:
        size = sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(out) for f in fs
        )
        self.index_bytes[fam] = size / self.doc_bytes[fam]

    def ops(self, pass_no: int) -> list[Op]:
        ops: list[Op] = []
        for fam in self.family_order:
            out = os.path.join(self.tmp, f"{fam}_p{pass_no}_{uuid.uuid4().hex[:8]}")
            steps = self._steps(fam, out)
            seq = [
                Op(f"{fam}.build", "build", steps["build"], family=fam, out_dir=out),
                Op(f"{fam}.append1", "append", steps["append1"], family=fam, out_dir=out),
                Op(f"{fam}.append2", "append", steps["append2"], family=fam, out_dir=out),
                Op(f"{fam}.delete", "delete", steps["delete"], family=fam, out_dir=out),
                Op(f"{fam}.compact", "compact", steps["compact"], family=fam, out_dir=out,
                   after=lambda fam=fam, out=out: self._measure_index(fam, out)),
            ]
            for k in range(SERVES):
                seq.append(Op(
                    f"{fam}.serve{k + 1}", "serve", steps["serve"], family=fam,
                    expect=lambda fam=fam, steps=steps: self._fresh_hash(fam, steps),
                    after=(lambda out=out: shutil.rmtree(out, ignore_errors=True))
                    if k == SERVES - 1 else None,
                ))
            ops.extend(seq)
        return ops


WORKLOADS = {
    "etl_queries": EtlQueries,
    "curation_x16": CurationX16,
    "index_lifecycle": IndexLifecycle,
}


def seeded_rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{name}:{seed}")
