"""``curation``: batch, one catalog job at a time, over a seeded corpus
(perturbed replicas plus planted near-duplicate clusters). Each job is
built by its catalog builder against the generated directory and ends
in a noop sink. Every job carries an observed digest of its output
(row count and an order-insensitive sum of row hashes), computed in the
same execution. The warm-up pass collects each job and checks the rows
against the DuckDB oracle, or planted-pair recall for the rows-only
job; every timed sample's digest must then equal the checked output's.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
from pyspark.sql import Observation

import checks
import gen
from common import Workload

#: curation_flagship (the slowest job) and text_lang_id are left out to
#: fit the run-time budget; lang-id still runs inside curation_pipeline's
#: gate.
JOBS = (
    "dedup_minhash_lsh",
    "dedup_minhash_capped",
    "winnow_match_capped",
    "contamination_check",
    "curation_pipeline",
)
DOC_BASE, DOC_COPIES, DOC_FILES = 250, 2, 4
#: measured passes per round of the loop: the second to fourth run of
#: each job (the first, in warm-up, collects and checks)
PASSES = 3


class Curation(Workload):
    name = "curation"

    def setup(self) -> None:
        from fegis_spark.catalog import catalog

        with self.phase("generate"):
            docs, self.exact_groups = gen.documents(self.rng, DOC_BASE, DOC_COPIES)
            self.n_docs = docs.num_rows
            self.sf_dir = os.path.join(self.work, "sf")
            ddir = os.path.join(self.sf_dir, "documents.parquet")
            os.makedirs(ddir)
            step = -(-docs.num_rows // DOC_FILES)
            for f in range(DOC_FILES):
                pq.write_table(docs.slice(f * step, step), os.path.join(ddir, f"part-{f}.parquet"))
        cat = catalog()
        self.entries = {j: cat[j] for j in JOBS}
        self.expect_digest: dict[str, dict] = {}
        # the DuckDB oracles run on a side thread while Spark warms up
        with ThreadPoolExecutor(1) as pool, self.phase("warm-up"):
            self.oracle_rows = {
                j: pool.submit(checks.duckdb_rows, ddir, e.oracle)
                for j, e in self.entries.items() if e.oracle is not None
            }
            # warm-up pass: collect every job once and check it
            for j, job in enumerate(JOBS):
                obs = Observation()
                r = self.run_request(
                    -1 - j, job, self._builder(job, obs),
                    lambda df: (df.columns, [tuple(r) for r in df.collect()]),
                    lambda out, job=job, obs=obs: self.check(job, obs.get, *out),
                )
                if not r["ok"]:
                    self.setup_errors.append(f"warm-up {job}: {r.get('error', 'wrong answer')}")

    def _builder(self, job: str, obs):
        """The catalog builder, plus the output digest as observed
        metrics on the built DataFrame (no extra job)."""
        from pyspark.sql import functions as F

        fn = self.entries[job].builder

        def build(s):
            df = fn(s, self.sf_dir)
            row_hash = F.xxhash64(F.to_json(F.struct(*df.columns)))
            return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                              F.sum(row_hash.cast("decimal(38,0)")).alias("hash_sum"))

        return build

    def check(self, job: str, digest: dict, cols, rows) -> bool:
        self.expect_digest[job] = digest
        if job in self.oracle_rows:
            dcols, drows = self.oracle_rows[job].result()
            return checks.rows_match(list(cols), rows, dcols, drows)
        # rows-only job: every planted exact-duplicate pair is found, and
        # every emitted pair is ordered and verified
        ia, ib, ij = cols.index("a"), cols.index("b"), cols.index("jaccard")
        pairs = {(r[ia], r[ib]) for r in rows}
        ok = all(r[ia] < r[ib] and r[ij] >= 0.5 for r in rows)
        return ok and checks.planted_pair_recall(pairs, self.exact_groups) == 1.0

    def sample(self, i: int) -> dict:
        job = JOBS[i % len(JOBS)]
        obs = Observation()
        return self.run_request(
            i, job, self._builder(job, obs),
            lambda df: df.write.format("noop").mode("overwrite").save(),
            lambda _: obs.get == self.expect_digest[job],
        )

    def finished(self, elapsed: float, n: int) -> bool:
        return elapsed >= self.ctx.seconds and n % (PASSES * len(JOBS)) == 0

    def units(self, rec: dict) -> float:
        return float(self.n_docs)

    def report(self, samples: list[dict]) -> dict:
        passes = len(samples) / len(JOBS)
        return {"curation.wall_s": (sum(s["wall_s"] for s in samples) / max(1, passes), "s")}

    def trace_extra(self) -> dict:
        """LSH pair yield of the capped MinHash configuration: verified
        pairs over candidate pairs (the same operator call with the
        Jaccard gate at 0, which keeps every candidate)."""
        from fegis_spark.model import load_table, table_bytes
        from fegis_spark.operators.dedup import minhash_lsh_pairs_portable
        from fegis_spark.queries.sqlfrag import HOT_CAP, spark_hot_docs

        def pairs(threshold: float) -> int:
            s = self.fresh_session()
            bound = 32 * table_bytes(self.sf_dir, "documents")
            return minhash_lsh_pairs_portable(
                spark_hot_docs(load_table(s, self.sf_dir, "documents")), "text", "doc_id",
                num_hashes=16, bands=4, ngram=3, jaccard_threshold=threshold,
                max_bucket_size=HOT_CAP, seed_bcast_bound=bound, sh_bcast_bound=bound,
            ).count()

        verified, candidates = pairs(0.5), pairs(0.0)
        return {"lsh_pair_yield": verified / candidates if candidates else 0.0,
                "lsh_verified_pairs": verified, "lsh_candidate_pairs": candidates}
