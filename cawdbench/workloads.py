"""The benchmark workloads.

Each workload generates its inputs from the seed, performs the program's own
set-up calls, warms up, and then runs timed sessions back to back. Every call
into the program goes through :meth:`Ops.call`, which counts it as an
operation and times it as a span of its layer; the checks after a session
count failures against the operation they judge. Sizes per session are the
constants at the top of each class; ``README.md`` says why they were chosen.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

import checks
import gen


class OpFailure(Exception):
    """An operation raised; the session it was part of ends there."""


class Ops:
    """Operation accounting shared by the workloads of one run."""

    def __init__(self, tracer):
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def call(self, span: str, fn, *args, **kwargs):
        self.attempted += 1
        with self.tr.span(span):
            try:
                return fn(*args, **kwargs)
            except Exception as e:  # noqa: BLE001 - counted, reported, session ends
                self.fail(f"{span}: {type(e).__name__}: {str(e)[:300]}")
                raise OpFailure(span) from e

    def check(self, ok: bool, what: str) -> None:
        """Count a failed check against the operation it judges."""
        if not ok:
            self.fail(f"check failed: {what}")

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.failures.append(msg)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, excluding Spark's hidden files."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def table_dir(spark, name: str) -> str:
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return os.path.join(warehouse, name.lower())


class Workload:
    name = ""
    #: timed sessions every run makes at least; the deterministic end-to-end
    #: metrics are computed over exactly these, so they do not depend on how
    #: many more sessions a run's time allowed
    min_sessions = 1
    #: timed sessions a run makes at most (the inputs generated for one run)
    max_sessions = 1

    def __init__(self, seed: int, input_dir: str):
        self.seed = seed
        self.input_dir = input_dir
        self.results: dict[str, list] = {}  # per timed session

    def generate(self) -> None:
        raise NotImplementedError

    def reset(self, spark) -> None:
        """Remove the program state a previous set-up or pass left behind."""

    def setup(self, spark, ops: Ops) -> None:
        """The program's own set-up calls (timed into ``setup_s``)."""

    def warmup(self, spark, ops: Ops) -> None:
        """Untimed work before the timed sessions, so that they run warm."""
        raise NotImplementedError

    def session(self, spark, ops: Ops, i: int):
        """Run timed session ``i``; return the checks to run after it."""
        raise NotImplementedError

    def recheck(self, spark, ops: Ops) -> None:
        """Repeat a deterministic operation over a generation an earlier pass
        already processed; its result must not change."""

    def end_to_end(self) -> dict[str, float]:
        """The workload's own end-to-end metrics (fractions of 1)."""
        raise NotImplementedError

    def layer_counters(self) -> dict[str, float]:
        """Per-layer counts and ratios for the traced run."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# snapshot_sync
# ---------------------------------------------------------------------------

class SnapshotSync(Workload):
    """Consecutive ORC + Parquet snapshots synced against the persisted
    bucketed signature store: linked stripe+column chunking, page chunking,
    hierarchical probe (stripes, then the columns of missed stripes), the
    transfer rollup, and one two-granularity merge of the session's chunks."""

    name = "snapshot_sync"
    min_sessions = 5
    max_sessions = 5
    #: generations synced untimed before the timed ones: the cold full
    #: upload and two incremental syncs, so every code path has run warm
    WARM_GENS = 3
    N_GENS = WARM_GENS + max_sessions
    BASE_ROWS = 30_000
    GROWTH_ROWS = 3_000
    STORE = "bench_sig_store"

    def generate(self) -> None:
        self.gens = gen.make_snapshots(
            self.seed, self.input_dir, self.N_GENS, self.BASE_ROWS, self.GROWTH_ROWS
        )
        self.warm_input = 0  # bytes the warm-up generations folded into the store

    def reset(self, spark) -> None:
        from columnar_aware_dedup_spark.sources import store

        store.drop_table_and_dir(spark, self.STORE)

    def setup(self, spark, ops: Ops) -> None:
        from columnar_aware_dedup_spark.sources import store

        empty = spark.createDataFrame([], "signature string, chunk_type string, size bigint")
        ops.call("store.create", store.create_store, spark, empty, self.STORE)

    def warmup(self, spark, ops: Ops) -> None:
        for g in range(self.WARM_GENS):
            self._sync(spark, ops, g)()

    def session(self, spark, ops: Ops, i: int):
        return self._sync(spark, ops, self.WARM_GENS + i)

    def _linked(self, spark, g: int):
        from columnar_aware_dedup_spark.sources.orcfixtures import linked_chunk_files

        # materialized once: the probe and the merge both consume the chunks
        return linked_chunk_files(spark, self.gens[g].path, "*.orc").localCheckpoint(eager=True)

    def _chunk_digest(self, linked) -> str:
        fname = F.element_at(F.split("file", "/"), -1).alias("file")
        return checks.digest(linked.select(fname, "chunk_idx", "signature", "size").toArrow())

    def recheck(self, spark, ops: Ops) -> None:
        from columnar_aware_dedup_spark.sources import store

        g = self.WARM_GENS
        again = ops.call("check.linked_orc", self._linked, spark, g)
        ops.check(
            self._chunk_digest(again) == self.first_chunks,
            f"re-chunking generation {g} gave different chunks",
        )
        replayed = ops.call(
            "check.store_replay", store.merge_into_store, spark, store.linked_store_rows(again), self.STORE
        )
        ops.check(replayed == 0, f"replaying generation {g}'s fold appended {replayed} rows")

    def _sync(self, spark, ops: Ops, g: int):
        from columnar_aware_dedup_spark.operators.dedup import transfer_rollup
        from columnar_aware_dedup_spark.sources import store
        from columnar_aware_dedup_spark.sources.chunkers import chunk_files

        gn = self.gens[g]
        tr = ops.tr
        fname = F.element_at(F.split("file", "/"), -1)
        linked = ops.call("chunkers.linked_orc", self._linked, spark, g)
        pages = ops.call(
            "chunkers.parquet_pages",
            lambda: chunk_files(spark, gn.path, "*.parquet").localCheckpoint(eager=True),
        )

        def probe(frame, level):
            return ops.call(
                "store.probe", lambda: store.probe_store(spark, frame, self.STORE)
                .withColumn("key", F.concat_ws("|", F.lit(level), fname))
                .localCheckpoint(eager=True)
            )

        with tr.span("dedup.classify"):
            stripes = probe(linked.filter(F.col("chunk_type") == "Stripe"), "stripe")
            subs = (
                stripes.filter(~F.col("hit"))
                .select("file", F.explode("subchunks").alias("s"))
                .select("file", "s.signature", "s.size")
            )
            leveled = [
                stripes,
                probe(subs, "column"),
                probe(linked.filter(F.col("chunk_type") != "Stripe"), "orc_other"),
                probe(pages, "parquet"),
            ]
            cols = ["key", "size", "hit"]
            union = leveled[0].select(cols)
            for lv in leveled[1:]:
                union = union.unionByName(lv.select(cols))
            rollup = ops.call(
                "dedup.rollup", lambda: transfer_rollup(union, key="key").collect()
            )
        merged = ops.call(
            "store.merge",
            store.merge_into_store,
            spark,
            store.linked_store_rows(linked).unionByName(
                pages.select("signature", "chunk_type", "size")
            ),
            self.STORE,
        )

        return lambda: self._account(spark, ops, g, rollup, merged, linked)

    def _account(self, spark, ops: Ops, g: int, rollup, merged, linked) -> None:
        gn = self.gens[g]
        levels: dict[str, dict[str, int]] = {}
        stripe_hits: dict[str, int] = {}
        for r in rollup:
            level, f = r["key"].split("|", 1)
            acc = levels.setdefault(level, dict.fromkeys(["hits", "misses", "dedup", "transfer"], 0))
            acc["hits"] += r["hits"]
            acc["misses"] += r["misses"]
            acc["dedup"] += r["dedup_bytes"]
            acc["transfer"] += r["transfer_bytes"]
            if level == "stripe":
                stripe_hits[f] = r["hits"]
                if f.rsplit(".", 1)[0] == gn.new_file:
                    ops.check(r["hits"] == 0, f"fresh file {f} has stripe hits")
        z = dict.fromkeys(["hits", "misses", "dedup", "transfer"], 0)
        st, col = levels.get("stripe", z), levels.get("column", z)
        oth, pq = levels.get("orc_other", z), levels.get("parquet", z)
        covered = st["dedup"] + col["dedup"] + col["transfer"] + sum(
            v["dedup"] + v["transfer"] for v in (oth, pq)
        )
        ops.check(covered == gn.n_bytes, f"gen {g}: chunks cover {covered} of {gn.n_bytes} bytes")
        ops.check(
            st["transfer"] == col["dedup"] + col["transfer"],
            f"gen {g}: column fallback does not cover the missed stripes",
        )
        transfer = col["transfer"] + oth["transfer"] + pq["transfer"]
        if g < self.WARM_GENS:
            self.warm_input += gn.n_bytes
            return
        if g == self.WARM_GENS:
            self.first_chunks = self._chunk_digest(linked)
        # planted: result.orc stripes equal to the previous generation's
        found = stripe_hits.get("result.orc", 0)
        ops.check(found <= gn.shared_stripes, f"gen {g}: more stripe hits than shared stripes")
        probed = sum(v["hits"] + v["misses"] for v in (st, col, oth, pq))
        n_chunks = probed - col["hits"] - col["misses"]
        store_bytes, store_files = dir_bytes(table_dir(spark, self.STORE))
        res = self.results
        res.setdefault("input", []).append(gn.n_bytes)
        res.setdefault("transfer", []).append(transfer)
        res.setdefault("planted", []).append(gn.shared_stripes)
        res.setdefault("found", []).append(found)
        res.setdefault("store_bytes", []).append(store_bytes)
        res.setdefault("store_files", []).append(store_files)
        res.setdefault("rows_appended", []).append(merged)
        res.setdefault("chunks", []).append(n_chunks)
        res.setdefault("hit_frac", []).append(
            sum(v["hits"] for v in (st, col, oth, pq)) / probed if probed else 0.0
        )
        res.setdefault("fallback_frac", []).append(
            col["dedup"] / st["transfer"] if st["transfer"] else 0.0
        )

    def end_to_end(self) -> dict[str, float]:
        r = {k: v[: self.min_sessions] for k, v in self.results.items()}
        return {
            "transfer_fraction": sum(r["transfer"]) / sum(r["input"]),
            "store_bytes_per_input_byte": r["store_bytes"][-1] / (self.warm_input + sum(r["input"])),
            "planted_pair_recall": sum(r["found"]) / sum(r["planted"]),
        }

    def layer_counters(self) -> dict[str, float]:
        r = self.results
        return {
            "chunkers.chunks": statistics.median(r["chunks"]),
            "store.rows_appended": statistics.median(r["rows_appended"]),
            "store.files": r["store_files"][-1],
            "store.bytes": r["store_bytes"][-1],
            "dedup.hit_frac": statistics.median(r["hit_frac"]),
            "dedup.fallback_frac": statistics.median(r["fallback_frac"]),
            "input_mb_per_session": statistics.median(r["input"]) / 1e6,
        }


# ---------------------------------------------------------------------------
# corpus_near_dup
# ---------------------------------------------------------------------------

class CorpusNearDup(Workload):
    """The four corpus-wide batch dedup queries over one generated corpus.
    The warm-up runs them on a small corpus from the same generator, where
    each result is hash-checked against its DuckDB oracle."""

    name = "corpus_near_dup"
    min_sessions = 1
    max_sessions = 3
    N_DOCS = 50_000
    #: the DuckDB closure oracle of near_dup_clusters grows steeply with
    #: corpus size (measured ~300 s at 50k documents on a 4-core host), so
    #: the oracles run on a small corpus from the same generator
    ORACLE_DOCS = 300
    QUERIES = (
        ("text.exact_dedup", "text_exact_dedup"),
        ("similarity.minhash", "minhash_near_dup"),
        ("clustering.clusters", "near_dup_clusters"),
        ("text.spans", "dup_span_fraction"),
    )

    def generate(self) -> None:
        self.corpus = gen.make_corpus(self.seed, os.path.join(self.input_dir, "corpus"), self.N_DOCS)
        self.oracle_corpus = gen.make_corpus(
            self.seed + 1_000_003, os.path.join(self.input_dir, "oracle_corpus"), self.ORACLE_DOCS
        )
        self.digests: dict[str, str] = {}

    def _run(self, ops: Ops, spark, span: str, query: str, sf_dir: str):
        from columnar_aware_dedup_spark.registry import QUERIES

        return ops.call(span, lambda: QUERIES[query](spark, sf_dir).toArrow())

    def warmup(self, spark, ops: Ops) -> None:
        from columnar_aware_dedup_spark.registry import ORACLES

        path = self.oracle_corpus.path
        for span, q in self.QUERIES:
            out = self._run(ops, spark, span, q, path)
            self.digests[f"oracle/{q}"] = checks.digest(out)
            if q in ORACLES:
                ok, msg = checks.oracle_check(out, ORACLES[q], path)
                ops.check(ok, f"oracle {q}: {msg}")

    def recheck(self, spark, ops: Ops) -> None:
        out = self._run(ops, spark, "check.minhash", "minhash_near_dup", self.oracle_corpus.path)
        ops.check(
            checks.digest(out) == self.digests["oracle/minhash_near_dup"],
            "minhash_near_dup over the oracle corpus changed since the warm-up",
        )

    def session(self, spark, ops: Ops, i: int):
        out = {q: self._run(ops, spark, span, q, self.corpus.path) for span, q in self.QUERIES}
        return lambda: self._account(ops, out)

    def _account(self, ops: Ops, out: dict) -> None:
        c = self.corpus
        for _span, q in self.QUERIES:
            dg = checks.digest(out[q])
            ops.check(self.digests.setdefault(q, dg) == dg, f"{q}: result differs from session 0")
        docs = checks.read_docs(c.path)
        ops.check(
            checks.exact_dedup_rows(out["text_exact_dedup"]) == checks.exact_dedup_truth(docs),
            "text_exact_dedup differs from the generator's exact-duplicate truth",
        )
        pairs = set(zip(out["minhash_near_dup"].column("doc_a").to_pylist(),
                        out["minhash_near_dup"].column("doc_b").to_pylist()))
        clusters = dict(zip(out["near_dup_clusters"].column("doc_id").to_pylist(),
                            out["near_dup_clusters"].column("cluster_id").to_pylist()))
        ops.check(
            all(clusters.get(a) == clusters.get(b) is not None for a, b in pairs),
            "a near-dup pair straddles two clusters",
        )
        ops.check(out["dup_span_fraction"].num_rows == c.n_docs, "dup_span_fraction misses documents")
        # bytes a dedup-aware shipper would still send: documents that are
        # neither a later exact copy nor a non-keeper of a near-dup cluster
        dropped = {i for i, k in checks.exact_dedup_keepers(docs).items() if k != i}
        dropped |= {d for d, cid in clusters.items() if cid != d}
        kept_bytes = sum(n for i, n in docs["n_chars"].items() if i not in dropped)
        res = self.results
        res.setdefault("found", []).append(sum(p in pairs for p in c.planted_pairs))
        res.setdefault("kept_frac", []).append(kept_bytes / sum(docs["n_chars"].values()))
        res.setdefault("out_bytes", []).append(sum(t.nbytes for t in out.values()))
        res.setdefault("candidates", []).append(len(pairs))
        res.setdefault("precision", []).append(checks.candidate_precision(pairs, docs["text"]))

    def end_to_end(self) -> dict[str, float]:
        r = self.results
        return {
            "transfer_fraction": r["kept_frac"][0],
            # no store: the dedup state this batch pipeline materializes is
            # its four result tables
            "store_bytes_per_input_byte": r["out_bytes"][0] / self.corpus.n_bytes,
            "planted_pair_recall": r["found"][0] / len(self.corpus.planted_pairs),
        }

    def layer_counters(self) -> dict[str, float]:
        r = self.results
        return {
            "similarity.candidate_pairs": r["candidates"][0],
            "similarity.candidate_precision": r["precision"][0],
            "input_mb_per_session": self.corpus.n_bytes / 1e6,
        }


WORKLOADS = {w.name: w for w in (SnapshotSync, CorpusNearDup)}

