"""``search``: closed loop, one client, seeded SearchMemory-style
requests over a memory store built by the program's own ingest path,
plus BM25 over a generated documents table and RRF hybrid over the
store. Each request is built, planned and collected from cold state.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import time

import numpy as np
import pyarrow.dataset as pads

import checks
import gen
import sparkenv
from common import Workload

#: request mix: one request of each kind per cycle. No source fixes
#: the share of each kind in real traffic, so the mix is the neutral
#: one; the seed draws each request's parameters, at fixed sizes.
KINDS = ("basic", "filtered", "by_id", "bm25", "hybrid")
#: cycles per round of the measurement loop (15 samples), and checked
#: cycles of warm-up: with one, the first measured cycle still ran
#: 1.4-2x slower than the next
CYCLES = 3
WARMUP_CYCLES = 2
STORE_ROWS = 6_000
DOC_BASE, DOC_COPIES = 2_000, 2
#: the reference's default SearchMemory limit (also k for bm25/hybrid)
LIMIT = 3
REF_TS = dt.datetime(2024, 6, 1)


class Search(Workload):
    name = "search"

    def setup(self) -> None:
        rng = self.rng
        with self.phase("generate"):
            docs, _ = gen.documents(rng, DOC_BASE, DOC_COPIES)
            self.docs_dir = os.path.join(self.work, "sf")
            gen.write(docs, os.path.join(self.docs_dir, "documents.parquet"))
            self.doc_ids = docs.column("doc_id").to_numpy()
            self.doc_texts = docs.column("text").to_pylist()
            log_path = os.path.join(self.work, "log.parquet")
            log_bytes = gen.write(gen.tool_calls(rng, STORE_ROWS), log_path)
        self.store = os.path.join(self.work, "store")
        with self.phase("ingest"):
            self.ingest = self.ingest_store(log_path, log_bytes)
        t = pads.dataset(self.store, format="parquet", partitioning="hive").to_table()
        self.setup_errors += [f"store: {e}" for e in checks.check_memories(t, STORE_ROWS)]
        self.mem_ids = np.asarray(t.column("memory_id").to_pylist(), dtype=object)
        self.mem_tool = np.asarray(t.column("tool").to_pylist(), dtype=object)
        self.mem_seq = t.column("sequence_order").to_numpy()
        self.mem_text = [c or "" for c in t.column("content").to_pylist()]
        emb = t.column("embedding").combine_chunks()
        self.mem_emb = emb.values.to_numpy(zero_copy_only=False).reshape(-1, checks.EMBED_DIM)

        self.requests = [self._request(KINDS[j % len(KINDS)]) for j in range(1000)]
        # warm-up: checked requests, outside the measurement
        with self.phase("warm-up"):
            for j in range(WARMUP_CYCLES * len(KINDS)):
                req = self._request(KINDS[j % len(KINDS)])
                r = self.timed(-1 - j, req)
                if not r["ok"]:
                    self.setup_errors.append(
                        f"warm-up {req['kind']}: {r.get('error', 'wrong answer')}"
                    )

    def ingest_store(self, log_path: str, log_bytes: int) -> dict:
        """Build the memory store with the program's batch ingest
        (ingest_batch -> write_memories), from cold state. Its figures
        are the write and python layers of this workload."""
        from fegis_spark.ingest import ingest_batch, write_memories

        status, tr = self.ctx.status, self.tracer
        stage0, exec0 = status.mark()
        cpu0 = sparkenv.python_worker_cpu_s(self.ctx.jvm_pid)
        s = self.fresh_session()
        t0 = time.perf_counter()
        with tr.span("ingest", request=-1000):
            with tr.span("build"):
                mem = ingest_batch(s.read.parquet(log_path))
                t1 = time.perf_counter()
            with tr.span("write"):
                write_memories(mem, self.store)
        t2 = time.perf_counter()
        files = glob.glob(os.path.join(self.store, "**", "*.parquet"), recursive=True)
        out = {
            "rows_per_s": STORE_ROWS / (t2 - t0),
            "build_s": t1 - t0,
            "write_s": t2 - t1,
            "files_written": len(files),
            "bytes_written": sum(os.path.getsize(f) for f in files),
        }
        out["stored_bytes_per_input_byte"] = out["bytes_written"] / log_bytes
        if tr.enabled:
            stages, plans = status.stages_since(stage0), status.plans_since(exec0)
            out.update(
                python_rows=plans.python_rows,
                python_bytes_sent=plans.python_bytes_sent,
                python_bytes_received=plans.python_bytes_received,
                python_worker_cpu_s=sparkenv.python_worker_cpu_s(self.ctx.jvm_pid) - cpu0,
                window_shuffle_bytes=stages.shuffle_write_bytes,
            )
        return out

    def _request(self, kind: str) -> dict:
        rng = self.rng

        def words(n: int) -> list[str]:
            return [gen.VOCAB[i] for i in rng.integers(0, len(gen.VOCAB), n)]

        if kind == "by_id":
            return {"kind": kind, "id": str(self.mem_ids[rng.integers(len(self.mem_ids))])}
        if kind == "bm25":
            sfx = f"x{rng.integers(DOC_COPIES)}"
            return {"kind": kind, "terms": [w + sfx for w in words(3)]}
        req = {"kind": kind, "text": " ".join(words(3))}
        if kind == "filtered":
            # two of the three most used tools: 35-50 % of the store
            tools = sorted(rng.choice(gen.TOOLS[:3], 2, replace=False).tolist())
            lo = int(rng.integers(1, 11))
            req["filters"] = [
                {"field": "tool", "operator": "any_of", "value": tools},
                {"field": "sequence_order", "operator": "between", "value": [lo, lo + 60]},
            ]
        if kind == "hybrid":
            req["terms"] = words(2)
        return req

    def finished(self, elapsed: float, n: int) -> bool:
        return elapsed >= self.ctx.seconds and n % (CYCLES * len(KINDS)) == 0

    def sample(self, i: int):
        return self.timed(i, self.requests[i % len(self.requests)])

    def timed(self, i: int, req: dict):
        return self.run_request(
            i, req["kind"], lambda s: self.build(s, req), lambda df: df.collect(),
            lambda rows: self.check(req, rows),
        )

    def build(self, s, req: dict):
        from pyspark.sql import functions as F

        kind = req["kind"]
        ref_ts = F.lit(REF_TS).cast("timestamp_ntz")
        if kind == "bm25":
            from fegis_spark.model import load_table
            from fegis_spark.operators.bm25 import bm25_topk

            return bm25_topk(load_table(s, self.docs_dir, "documents"), "text", "doc_id",
                             req["terms"], k=LIMIT)
        mem = s.read.parquet(self.store)
        if kind == "hybrid":
            from fegis_spark.operators.rrf import rrf_fuse

            return rrf_fuse(mem, "memory_id", "embedding", "content",
                            checks.embed_text(req["text"]).tolist(), req["terms"], k=LIMIT)
        from fegis_spark.api import search_memory

        if kind == "by_id":
            return search_memory(mem, query=req["id"], search_type="by_memory_id", ref_ts=ref_ts)
        return search_memory(mem, query=req["text"], limit=LIMIT, search_type=kind,
                             filters=req.get("filters", ()), ref_ts=ref_ts)

    def check(self, req: dict, rows) -> bool:
        kind = req["kind"]
        if kind == "by_id":
            return [(r["memory_id"], r["score"]) for r in rows] == [(req["id"], 1.0)]
        if kind == "bm25":
            want = checks.bm25_topk(self.doc_texts, self.doc_ids, req["terms"], LIMIT)
            got = [(r["id"], r["score"]) for r in rows]
            return checks.same_ranking(got, want)
        if kind == "hybrid":
            want = checks.rrf_topk(self.mem_emb, self.mem_text, self.mem_ids,
                                   checks.embed_text(req["text"]), req["terms"], LIMIT)
            got = [(r["id"], r["r_dense"], r["r_lex"], r["rrf"]) for r in rows]
            return len(got) == len(want) and all(
                g[:3] == w[:3] and abs(g[3] - w[3]) <= checks.SCORE_TOL for g, w in zip(got, want)
            )
        mask = np.ones(len(self.mem_ids), dtype=bool)
        for f in req.get("filters", ()):
            if f["field"] == "tool":
                mask &= np.isin(self.mem_tool, f["value"])
            else:
                lo, hi = f["value"]
                mask &= (self.mem_seq >= lo) & (self.mem_seq <= hi)
        pos = np.nonzero(mask)[0]
        scores = checks.cosine_scores(self.mem_emb[pos], checks.embed_text(req["text"]))
        top = checks.topk(scores, self.mem_ids[pos], LIMIT)
        want = [(self.mem_ids[pos][j], float(scores[j])) for j in top if scores[j] >= 0.4]
        got = [(r["memory_id"], r["score"]) for r in rows]
        return checks.same_ranking(got, want)

    def report(self, samples: list[dict]) -> dict:
        units = {"rows_per_s": "1/s", "build_s": "s", "write_s": "s", "files_written": "count",
                 "bytes_written": "bytes", "stored_bytes_per_input_byte": "ratio",
                 "python_rows": "count", "python_bytes_sent": "bytes",
                 "python_bytes_received": "bytes", "python_worker_cpu_s": "s",
                 "window_shuffle_bytes": "bytes"}
        return {f"ingest.{k}": (v, units[k]) for k, v in self.ingest.items()}
