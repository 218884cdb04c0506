"""The benchmark workloads. Each drives the engine's public functions only.

A workload has four phases, all called by ``run.py``:

- ``make_inputs()``: seeded input generation (excluded from ``setup_s``);
- ``setup(spark, tracer)``: state the operations need (index builds);
- ``op(i)``: one operation, returning the units of work it completed and
  its output; ``check(i, output)`` then tells whether that output is right,
  outside the timed window;
- ``final_check()``: checks that do not belong to a single operation, as
  ``[(name, ok)]``;
- ``traced_step()``: work that only the traced run does, after the
  measured phase, returning per-layer facts and more checks.
"""

from __future__ import annotations

import os
import re

import numpy as np

import gen


class Workload:
    name = ""
    unit = ""
    tokens_per_op = 0  # tokens the NLP block scans per operation

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.in_dir = os.path.join(work, "in")
        self.spark = None
        self.tr = None

    def layers(self) -> list[tuple[object, list[str], str]]:
        """(module, entry points, layer) wrapped by the traced run."""
        return []

    def facts(self) -> dict:
        """Workload facts the per-layer metrics divide by (read at the end)."""
        return {"tokens_per_op": self.tokens_per_op}

    def kind(self, i: int) -> str:
        return "op"

    def check(self, i: int, out) -> bool:
        return True

    def warmup(self) -> None:
        """Run each operation shape until its wall settles (counted in
        ``setup_s``). Warm-up operations use indices below zero."""

    def after_op(self) -> None:
        pass

    def traced_step(self) -> tuple[dict, list[tuple[str, bool]]]:
        return {}, []


# ── trips_etl ───────────────────────────────────────────────────────────────

TRIPS_OUTPUTS = ("trips_master_fuzzy", "location_pairs", "location_stats", "multi_location_details")
TRIPS_ORACLE_CHECKS = ("trips_master", "location_pairs", "location_stats", "multi_location_details")
# The DuckDB oracle runs the reference NLP as regex SQL at about 1 ms per
# row, so outputs are checked on a seeded 1% slice of the generated events:
# ``event_id % 101 == seed % 101``. Trip text is ``GOLDEN_TEXTS[event_id %
# 32]`` and 101 is prime to 32, so the slice holds every text.
TRIPS_CHECK_MOD = 101
# Full passes in warm-up. With one, the first measured pass was 15-30%
# slower than the rest, and whether a run measured 2 or 3 passes decided
# whether that pass set the median.
WARM_PASSES = 2


def check_slice(ids: np.ndarray, seed: int) -> np.ndarray:
    """Row positions of the oracle check slice."""
    return np.nonzero(ids % TRIPS_CHECK_MOD == seed % TRIPS_CHECK_MOD)[0]


def frame_digest(pdf) -> tuple[list[str], str]:
    """Order-insensitive digest of a pandas frame: columns by name, numbers
    compared as float64 rounded to 6 places, nulls as one sentinel."""
    import hashlib

    import pandas as pd

    cols = sorted(pdf.columns)
    norm = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_numeric_dtype(s) and not pd.api.types.is_bool_dtype(s):
            norm[c] = s.astype("float64").round(6)
        else:
            norm[c] = s.astype(object).where(s.notna(), "\x00null").astype(str)
    rows = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy()
    rows.sort()
    return cols, hashlib.sha256(rows.tobytes()).hexdigest()


def observe_digest(df):
    """``df`` with an observed (row count, order-insensitive row hash sum)
    over its output, computed by the action that consumes it. Doubles are
    rounded to 6 places first, as in ``frame_digest``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    cols = [
        F.round(F.col(f.name), 6) if isinstance(f.dataType, (DoubleType, FloatType)) else F.col(f.name)
        for f in df.schema.fields
    ]
    obs = Observation()
    row_hash = F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF))
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), F.sum(row_hash).alias("hash")), obs


class TripsEtl(Workload):
    """One operation = one pass of the reference's four analytics outputs
    over a seeded sf0.1 events table, each written to the noop sink."""

    name = "trips_etl"
    unit = "trip rows"

    def make_inputs(self) -> None:
        import duckdb

        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips

        ev = gen.events_table(self.seed)
        self.rows = ev.num_rows
        ids = ev.column("event_id").to_numpy()
        sl = ev.take(check_slice(ids, self.seed))
        gen.write_tables({"events": ev}, self.in_dir)
        self.check_dir = os.path.join(self.work, "check")
        path = gen.write_tables({"events": sl}, self.check_dir)["events"]
        self.check_rows = sl.num_rows
        self.tokens_per_op = self._tokens(ids)
        # the oracle's expected outputs are part of the generated inputs
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
        self.expected = {n: frame_digest(con.execute(trips.ORACLES[n]).df()) for n in TRIPS_ORACLE_CHECKS}
        con.close()

    @staticmethod
    def _tokens(ids: np.ndarray) -> int:
        """Tokens the NLP block scans per pass (the fuzzy tier's share is
        UDF rows over this)."""
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.functions.arabic import (
            TOKEN_SPLIT_PATTERN,
        )
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.trips import GOLDEN_TEXTS

        split = re.compile(TOKEN_SPLIT_PATTERN)
        per_text = [
            len([t for t in split.split(x or "") if t and t.strip()]) for x in GOLDEN_TEXTS
        ]
        counts = np.bincount(ids % len(GOLDEN_TEXTS), minlength=len(GOLDEN_TEXTS))
        return int(np.dot(counts, per_text))

    def layers(self):
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import extract, lookup
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.sources import tables

        return [
            (trips, list(TRIPS_OUTPUTS), "construct"),
            (tables, ["load_table"], "sources"),
            (extract, ["with_nlp_enrichment", "with_all_locations_fuzzy"], "operators"),
            (lookup, ["fuzzy_lookup_udf"], "lookup"),
        ]

    def setup(self, spark, tracer) -> None:
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans import trips

        self.spark, self.tr, self.trips = spark, tracer, trips

    def op(self, i: int) -> tuple[int, list]:
        observed = []
        for name in TRIPS_OUTPUTS:
            df, obs = observe_digest(getattr(self.trips, name)(self.spark, self.in_dir))
            self.tr.catalyst(df, execute=True)
            with self.tr.span(f"write:{name}", "exec"):
                df.write.format("noop").mode("overwrite").save()
            observed.append(obs)
        return self.rows, observed

    @staticmethod
    def _digests(observed: list) -> dict[str, tuple]:
        return {n: tuple(o.get.values()) for n, o in zip(TRIPS_OUTPUTS, observed)}

    def check(self, i: int, observed: list) -> bool:
        """A measured pass must write what the warm-up pass wrote."""
        return self._digests(observed) == self.reference

    def kind(self, i: int) -> str:
        return "pass"

    def after_op(self) -> None:
        self.spark.catalog.clearCache()

    def warmup(self) -> None:
        """The output check on the check slice, then ``WARM_PASSES`` full
        passes. The check compiles and runs every query shape a pass runs,
        on 1% of the rows (about 22 s, what a cold pass costs). The first
        full pass after it still takes about 8.5 s and the second about 7 s,
        against 6-7 s for later ones. The output digests of the first full
        pass are what every later pass must match."""
        self.checks = []
        for name in TRIPS_ORACLE_CHECKS:
            self.checks.append(
                (f"oracle:{name}", self._try(lambda: frame_digest(
                    self.trips.QUERIES[name](self.spark, self.check_dir).toPandas()
                ) == self.expected[name]))
            )
        self.checks.append(
            ("rows:trips_master_fuzzy", self._try(lambda: self.trips.trips_master_fuzzy(
                self.spark, self.check_dir).count() == self.check_rows))
        )
        self.reference = self._digests(self.op(-1)[1])
        self.after_op()
        self.checks.append(
            ("rows:full pass trips_master_fuzzy", self.reference["trips_master_fuzzy"][0] == self.rows)
        )
        for w in range(1, WARM_PASSES):
            self.checks.append((f"warm-up pass {w}", self.check(-1 - w, self.op(-1 - w)[1])))
            self.after_op()

    def _try(self, check) -> bool:
        try:
            return bool(check())
        except Exception:
            import traceback

            traceback.print_exc()
            return False
        finally:
            self.spark.catalog.clearCache()

    def final_check(self) -> list[tuple[str, bool]]:
        return self.checks


# ── index_serve ─────────────────────────────────────────────────────────────
#
# One operation is one epoch of the engine's streaming semantic gate,
# ``streaming.run_stream_curation(semantic_index=<IVFPQ artifact>,
# semantic_register=True)``: consult the index with the micro-batch's judged
# rows, register the keepers, then the other reads and writes the index
# serves. Sources of each number:
#
# - GATE_BATCH: judged rows per micro-batch of bench.py's celled semantic-gate
#   stream at sf0.1. It replays 5,000 documents in 4 micro-batches and 10% of
#   them carry one of the 2,000 embeddings: 200 judged rows, 50 per batch.
# - GATE_K, GATE_REFINE, GATE_N_PROBE, prune_cells: the consult call of
#   ``operators.curation.semantic_anti_join`` on an IVFPQ index.
# - GATE_THRESHOLD: bench.py's ``semantic_threshold``. Queries whose top-1
#   cosine is below it are the keepers; all of them are registered, one
#   ``ivfpq_index_add`` per consult, as the gate registers once per epoch.
# - PLANT_EVERY: ``plans.llmdata.semantic_gate`` plants an exact copy of an
#   indexed vector at every 12th judged row, so both gate branches run.
# - BM25_K and the 4-term query shape: ``plans.llmdata.BM25_K`` and
#   ``BM25_QUERY``. bench.py's ann_split serves BM25 as often as each ANN
#   index, so there is one BM25 probe per consult.
# - REMOVE_BATCH is an assumption: no stream in the repo removes ids. The
#   only removal shape is ann_split's ``remove_10pct``, a tombstone batch
#   kept below the 20% compaction threshold. At 20 ids (1% of the base
#   index) per epoch a run stays below that threshold too.

GATE_BATCH = 50
GATE_K = 1
GATE_REFINE = 4
GATE_N_PROBE = 4
GATE_THRESHOLD = 0.9
PLANT_EVERY = 12
BM25_K = 25
REMOVE_BATCH = 20
# Mean recall@1 of the consults' unplanted queries against exact cosine
# over the live vectors. It was 0.37-0.50 per run on seeds 11-15: vectors of
# one cluster sit at nearly equal cosine (about 0.7) from each other, so the
# 8-byte PQ codes rank the 4-wide shortlist mostly by noise. A random pick
# among the probed cells would score under 0.01; the floor catches that.
RECALL_FLOOR = 0.25
QUERY_ID0 = 1_000_000_000
# The first epoch pays the code generation of every shape (its consult takes
# about 4.7 s, later ones about 2 s); the second is as fast as measured ones.
WARMUP_EPOCHS = 1
EPOCHS = 64  # the seeded query pool covers this many epochs per run
# The curation step of the traced run: the engine's registered
# curate_increment plan (kwargs, history/delta split, eval slice) over a
# seeded documents table, with this share of exact and of near copies of
# history texts in the delta.
CURATE_DOCS = 1500
CURATE_DUP_SHARE = 0.05


def bm25_reference(texts: list[str], ids: list[int], query: str, k1: float = 1.2, b: float = 0.75):
    """Python mirror of ``retrieval.bm25_topk``'s scoring:
    ``{doc_id: score}`` for every document matching a query term."""
    import math

    terms = list(dict.fromkeys(t for t in re.split(r"\s+", query.lower(), flags=re.ASCII) if t))
    toks = [[t for t in re.split(r"\s+", x.lower(), flags=re.ASCII) if t] for x in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {t: sum(1 for d in toks if t in d) for t in terms}
    scores = {}
    for did, d in zip(ids, toks):
        s, hit = 0.0, False
        for t in terms:
            tf = d.count(t)
            if tf:
                hit = True
                idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
                s += round(idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(d) / avgdl)), 6)
        if hit:
            scores[did] = s
    return scores


def tree_state(root: str) -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for f in names:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


class IndexServe(Workload):
    """Semantic-gate epochs against a durable IVFPQ index over
    ``embeddings``, with a BM25 probe over ``documents`` and a tombstone
    batch per epoch."""

    name = "index_serve"
    unit = "probes"

    def make_inputs(self) -> None:
        emb = gen.embeddings_table(self.seed)
        docs = gen.documents_table(self.seed)
        gen.write_tables({"embeddings": emb, "documents": docs}, self.in_dir)
        self.vecs = {int(i): v for i, v in zip(emb.column("vec_id").to_pylist(), np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)))}
        self.doc_texts = docs.column("text").to_pylist()
        self.doc_ids = docs.column("doc_id").to_pylist()
        n_epochs = EPOCHS + WARMUP_EPOCHS
        self.qv, self.qs = gen.probe_queries(self.seed, n_epochs * GATE_BATCH)
        # base ids: a removal pool, and the sources of planted copies (never
        # removed, so a planted copy always has its live original)
        perm = [int(x) for x in gen.rng_for(self.seed, "mix").permutation(len(self.vecs))]
        self.remove_ids = perm[: n_epochs * REMOVE_BATCH]
        self.plant_src = perm[n_epochs * REMOVE_BATCH :]
        self.recalls: list[float] = []

    def layers(self):
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import (
            curation,
            retrieval,
            similarity,
        )

        return [
            (similarity, ["topk_ivfpq", "build_ivfpq_index"], "construct"),
            (retrieval, ["bm25_topk", "build_bm25_index"], "construct"),
            (similarity, ["ivfpq_index_add", "ivfpq_index_remove"], "update"),
            (curation, ["curate_increment"], "curation"),
        ]

    def setup(self, spark, tracer) -> None:
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import retrieval, similarity

        self.spark, self.tr = spark, tracer
        self.sim, self.ret = similarity, retrieval
        self.ivf_dir = os.path.join(self.work, "ivfpq")
        emb = spark.read.parquet(os.path.join(self.in_dir, "embeddings.parquet"))
        self.docs = spark.read.parquet(os.path.join(self.in_dir, "documents.parquet"))
        self.index = similarity.build_ivfpq_index(emb, path=self.ivf_dir)
        self.terms, self.consts = retrieval.build_bm25_index(
            self.docs, path=os.path.join(self.work, "bm25")
        )

    def warmup(self) -> None:
        """Whole epochs, checked like measured ones, so that the index state
        the measured phase starts from is the one the checks expect."""
        for w in range(WARMUP_EPOCHS):
            i = -1 - w
            self.check(i, self.op(i)[1])

    def facts(self) -> dict:
        files = [f for f in tree_state(self.ivf_dir) if f.endswith(".parquet")]
        return {"index_bytes": sum(os.path.getsize(f) for f in files)}

    def kind(self, i: int) -> str:
        return "epoch"

    def _slot(self, i: int) -> int:
        """Epoch ``i``'s slot in the seeded pools (warm-up epochs, ``i < 0``,
        take the last slots)."""
        return i % (EPOCHS + WARMUP_EPOCHS)

    def _batch(self, i: int) -> tuple[list[int], np.ndarray, list[int]]:
        """(query ids, query vectors, planted positions) of epoch ``i``."""
        e = self._slot(i)
        q = self.qv[e * GATE_BATCH : (e + 1) * GATE_BATCH].copy()
        planted = list(range(0, GATE_BATCH, PLANT_EVERY))
        for n, j in enumerate(planted):
            q[j] = self.vecs[self.plant_src[(e * len(planted) + n) % len(self.plant_src)]]
        ids = [QUERY_ID0 + e * GATE_BATCH + j for j in range(GATE_BATCH)]
        return ids, q, planted

    def op(self, i: int) -> tuple[int, dict]:
        ids, q, _ = self._batch(i)
        out: dict = {}
        with self.tr.span("consult", "phase"):
            qdf = self.spark.createDataFrame(
                [(vid, [float(x) for x in v]) for vid, v in zip(ids, q)],
                "vec_id long, embedding array<float>",
            )
            df = self.sim.topk_ivfpq(
                qdf, index=self.index, k=GATE_K, refine=GATE_REFINE,
                n_probe=GATE_N_PROBE, prune_cells=True,
            )
            with self.tr.span("collect:topk_ivfpq", "exec"):
                rows = df.collect()
            self.tr.catalyst(df)
        out["top1"] = {int(r["query_id"]): (int(r["neighbor_id"]), float(r["score"])) for r in rows}
        out["keep"] = [
            j for j, vid in enumerate(ids) if out["top1"].get(vid, (None, -1.0))[1] < GATE_THRESHOLD
        ]
        with self.tr.span("register", "phase"):
            keep = [(ids[j], [float(x) for x in q[j]]) for j in out["keep"]]
            self.index = self.sim.ivfpq_index_add(
                self.index,
                self.spark.createDataFrame(keep, "vec_id long, embedding array<float>"),
                path=self.ivf_dir,
            )
            out["live_after_add"] = self.index.encoded.count()
        with self.tr.span("bm25", "phase"):
            df = self.ret.bm25_topk(
                self.docs, self.qs[self._slot(i)], k=BM25_K, term_stats=self.terms, consts=self.consts
            )
            with self.tr.span("collect:bm25_topk", "exec"):
                out["bm25"] = df.collect()
            self.tr.catalyst(df)
        with self.tr.span("remove", "phase"):
            e = self._slot(i)
            self.index = self.sim.ivfpq_index_remove(
                self.index,
                self.spark.createDataFrame(
                    [(r,) for r in self.remove_ids[e * REMOVE_BATCH : (e + 1) * REMOVE_BATCH]],
                    "vec_id long",
                ),
                path=self.ivf_dir,
            )
            out["live_after_remove"] = self.index.encoded.count()
        return GATE_BATCH + 1, out

    def check(self, i: int, out: dict) -> bool:
        """Check epoch ``i`` against the live vectors it started from, then
        apply its registrations and removals to them."""
        ids, q, planted = self._batch(i)
        live = np.fromiter(self.vecs.keys(), dtype=np.int64)
        mat = np.stack(list(self.vecs.values())).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        qq = q.astype(np.float64)
        sims = mat @ (qq / np.linalg.norm(qq, axis=1, keepdims=True)).T  # live x queries
        pos = {int(v): n for n, v in enumerate(live)}
        ok = len(out["top1"]) == len(ids)
        for j, vid in enumerate(ids):
            nb, score = out["top1"].get(vid, (None, None))
            # the shortlist is re-ranked by exact cosine: the returned score
            # is the live neighbour's cosine
            ok = ok and nb in pos and abs(score - sims[pos[nb], j]) < 1e-5
            if j in planted:
                ok = ok and j not in out["keep"]
            elif i >= 0:
                best = live[np.lexsort((live, -sims[:, j]))[0]]
                self.recalls.append(float(nb == best))
        for j in out["keep"]:
            self.vecs[ids[j]] = q[j]
        ok = ok and out["live_after_add"] == len(self.vecs)
        e = self._slot(i)
        for r in self.remove_ids[e * REMOVE_BATCH : (e + 1) * REMOVE_BATCH]:
            self.vecs.pop(r)
        ok = ok and out["live_after_remove"] == len(self.vecs)
        return bool(ok) and self._check_bm25(i, out["bm25"])

    def _check_bm25(self, i: int, rows: list) -> bool:
        ref = bm25_reference(self.doc_texts, self.doc_ids, self.qs[self._slot(i)])
        want = sorted(ref.values(), reverse=True)[:BM25_K]
        got = [float(r["score"]) for r in rows]
        return (
            len(got) == len(want)
            and all(abs(ref.get(r["doc_id"], -1e9) - float(r["score"])) < 1e-4 for r in rows)
            and all(abs(a - b) < 1e-4 for a, b in zip(got, want))
        )

    def final_check(self) -> list[tuple[str, bool]]:
        mean = sum(self.recalls) / len(self.recalls) if self.recalls else 0.0
        return [(f"recall@{GATE_K} mean {mean:.3f} >= {RECALL_FLOOR}", mean >= RECALL_FLOOR)]

    def traced_step(self) -> tuple[dict, list[tuple[str, bool]]]:
        """The curation layer, after the measured phase of a traced run:
        bootstrap the durable exact, boilerplate and near-dup indexes from a
        seeded history, curate one seeded delta, then curate it again with
        the same ``batch_id``, which must keep the same documents."""
        from pyspark.sql import functions as F

        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.operators import curation
        from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark.plans.llmdata import (
            CURATION_QUALITY_GATE,
        )

        hist, delta = gen.curation_tables(self.seed, CURATE_DOCS, CURATE_DUP_SHARE)
        paths = gen.write_tables({"history": hist, "delta": delta}, os.path.join(self.work, "curate-in"))
        h = self.spark.read.parquet(paths["history"])
        d = self.spark.read.parquet(paths["delta"])
        kwargs = dict(
            quality_gate=CURATION_QUALITY_GATE,
            boilerplate_min_doc_frac=0.1,
            boilerplate_min_docs=2,
            neardup_threshold=0.6,
            eval_df=h.unionByName(d).filter(F.col("doc_id") % 997 == 0).select("text"),
        )
        root = os.path.join(self.work, "curation")
        curation.curate_increment(h, root, batch_id=0, **kwargs)
        before = tree_state(root)
        n_spans = len(self.tr.spans)
        kept = sorted(r["doc_id"] for r in curation.curate_increment(d, root, batch_id=1, **kwargs).select("doc_id").collect())
        delta_spans = [s for s in self.tr.spans[n_spans:] if s.layer == "curation"]
        after = tree_state(root)
        again = sorted(r["doc_id"] for r in curation.curate_increment(d, root, batch_id=1, **kwargs).select("doc_id").collect())
        self.spark.catalog.clearCache()
        hist_texts = set(hist.column("text").to_pylist())
        copies = {i for i, t in zip(delta.column("doc_id").to_pylist(), delta.column("text").to_pylist()) if t in hist_texts}
        written = sum(st[0] for f, st in after.items() if before.get(f) != st)
        facts = {
            "curation_rows_in": delta.num_rows,
            "curation_rows_kept": len(kept),
            "curation_jobs": sum(len(s.jobs) for s in delta_spans),
            "curation_delta_s": sum(s.wall for s in delta_spans),
            "curation_bytes_written": written,
            "curation_input_bytes": os.path.getsize(paths["delta"]),
            "curation_files": len(after),
        }
        return facts, [
            ("curation: same batch_id keeps the same documents", kept == again),
            ("curation: no exact copy of a history text is kept", not copies & set(kept)),
        ]


WORKLOADS = {w.name: w for w in (TripsEtl, IndexServe)}
