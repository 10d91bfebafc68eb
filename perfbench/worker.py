"""One benchmark process: start a session, run one workload closed-loop
(one client: the next operation starts when the previous one ends).

Started by ``run.py`` as a fresh Python process.  It prints ``READY`` on
stdout once the library is imported and the SparkSession is up, so the
parent can time set-up from process start.  It then runs the first
(cold) operation, a
calibration job, two warm-up operations, warm operations until
``--seconds`` have passed, a second calibration job, and writes its
measurements to ``--result``.

With ``--trace 1`` the session writes an event log, operations alternate
between traced (spans and job groups) and untraced, and the log is folded
onto the spans after the session stops.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from itertools import chain

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

# The benchmark's own modules (numpy, pyarrow) load before the library;
# they add the same fraction of a second to every set-up sample.
import checks  # noqa: E402
import gen  # noqa: E402
import spans as tracing  # noqa: E402

WARMUP_OPS = 2
MIN_WARM_OPS = 4
# op_cpu_s averages the CPU of the first this-many operations of a run:
# the cold one, the warm-up ones and the first warm ones.
METERED_OPS = 1 + WARMUP_OPS + MIN_WARM_OPS
MIN_TRACED_WARM_OPS = 4  # half traced, half not, for trace.overhead


class NullTracer:
    op = None

    def span(self, name):
        return nullcontext()


def _dur(spans: list[dict], name: str) -> float:
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


class Workload:
    """One part of a workload: ``op`` runs its share of a timed operation
    and returns the result as plain values; ``prepare`` (after the cold
    operation), ``check``, ``observe`` and ``cleanup`` are untimed;
    ``layers`` turns one traced operation into layer-specific metrics."""

    def __init__(self, spark, work: str, info: dict, expect: dict):
        self.spark, self.work, self.info, self.expect = spark, work, info, expect

    def prepare(self) -> None:
        pass

    def check(self, got) -> str | None:
        raise NotImplementedError

    def observe(self) -> dict:
        """Per-operation figures read before cleanup (untimed)."""
        return {}

    def cleanup(self) -> None:
        pass

    def layers(self, spans: list[dict], folded: dict, got) -> dict:
        return {}

    def traced_probes(self, tr) -> dict:
        return {}


class SearchEgress(Workload):
    """Load one dataset, replay its queries with stored filters, then
    iterate it out the way the reference's upsert loop does."""

    BATCH = 100

    def __init__(self, *args):
        super().__init__(*args)
        n = self.info["docs"]
        self.sample_ids = {gen.doc_id(i) for i in range(0, n, max(n // 64, 1))}
        self.query_sample = set(range(0, self.info["queries"], 3))

    def op(self, tr):
        from pyspark.sql import functions as F

        from pinecone_datasets_spark import Catalog
        from pinecone_datasets_spark.operators.search import topk_search

        with tr.span("reader"):
            ds = Catalog(self.spark, os.path.join(self.work, "catalog")).load_dataset(
                "search"
            )
            docs, queries = ds.documents, ds.queries
        with tr.span("search"):
            with tr.span("search.plan"):
                # conform() keeps only schema columns, so the query id
                # rides in the blob.
                q = queries.withColumn(
                    "query_id", F.get_json_object("blob", "$.qid").cast("int")
                )
                res = topk_search(docs, q, metric="cosine", apply_stored_filters=True)
            with tr.span("search.exec"):
                rows = res.collect()
        hits: dict[int, list] = {qid: [] for qid in range(self.info["queries"])}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            hits.setdefault(r["query_id"], []).append((r["id"], r["score"]))
        out = {"rows": 0, "batches": 0, "max_batch": 0, "batch_size": self.BATCH}
        ids, samples = [], {}
        with tr.span("iter"):
            it = ds.iter_documents(batch_size=self.BATCH)
            with tr.span("iter.first_batch"):
                first = next(it, None)
            for batch in chain([first] if first else [], it):
                out["batches"] += 1
                out["rows"] += len(batch)
                out["max_batch"] = max(out["max_batch"], len(batch))
                for d in batch:
                    ids.append(d["id"])
                    if d["id"] in self.sample_ids:
                        samples[d["id"]] = d
            nq, qs = 0, {}
            for i, q in enumerate(ds.iter_queries()):
                nq += 1
                if i in self.query_sample:
                    qs[i] = q["vector"]
        out.update(ids=ids, samples=samples, queries=nq, query_samples=qs)
        return {"search": hits, "egress": out}

    def check(self, got):
        err = checks.check_search(got["search"], self.expect)
        if err:
            return err
        return checks.check_egress(got["egress"], self.expect)

    def layers(self, spans, folded, got):
        cpu = folded.get("search", {}).get("exec_cpu_s", 0.0)
        it = _dur(spans, "iter")
        return {
            "reader.open_s": _dur(spans, "reader"),
            "search.plan_s": _dur(spans, "search.plan"),
            "search.exec_s": _dur(spans, "search.exec"),
            "search.pairs": self.info["pairs"],
            "search.pairs_per_cpu_s": self.info["pairs"] / cpu if cpu else 0.0,
            "iter.first_batch_s": _dur(spans, "iter.first_batch"),
            "iter.s": it,
            "iter.rows_per_s": got["egress"]["rows"] / it if it else 0.0,
        }

    def traced_probes(self, tr):
        import pyarrow.parquet as pq

        from pinecone_datasets_spark import compile_filter

        path = os.path.join(self.work, "catalog", "search", "queries")
        filters = sorted(
            {f for f in pq.read_table(path).column("filter").to_pylist() if f}
        )
        times = []
        for _ in range(5):
            with tr.span("filters.compile") as s:
                for f in filters:
                    compile_filter(json.loads(f))
            times.append(s["end"] - s["start"])
        return {"filters.compile_s": statistics.median(times)}


class Publish(Workload):
    NAME = "published"
    HASH_COLS = ("id", "values", "sparse_values", "metadata", "blob")

    def prepare(self):
        from pyspark.sql import functions as F

        src = os.path.join(self.work, "source")
        docs = self.spark.read.parquet(os.path.join(src, "documents.parquet"))
        n, h = docs.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64(*self.HASH_COLS))).first()
        nq = self.spark.read.parquet(os.path.join(src, "queries.parquet")).count()
        self.expect = {
            "count": n,
            "hash": h,
            "queries": nq,
            "metadata": self._metadata().to_dict(),
            "names": list(self.expect["catalog_names"]) + [self.NAME],
        }

    def _metadata(self):
        from pinecone_datasets_spark import DatasetMetadata, DenseModelMetadata

        return DatasetMetadata(
            name=self.NAME,
            created_at="2024-01-02 03:04:05.000006",
            documents=self.info["docs"],
            queries=self.info["queries"],
            source="perfbench",
            dense_model=DenseModelMetadata(name="perfbench-dense", dimension=gen.DIM),
            tags=["perfbench", "publish"],
        )

    def op(self, tr):
        from pyspark.sql import functions as F

        from pinecone_datasets_spark import Catalog, Dataset

        base = os.path.join(self.work, "catalog")
        src = os.path.join(self.work, "source")
        with tr.span("source"):
            docs = self.spark.read.parquet(os.path.join(src, "documents.parquet"))
            queries = self.spark.read.parquet(os.path.join(src, "queries.parquet"))
        with tr.span("conform"):
            ds = Dataset.from_dataframe(self.spark, docs, self._metadata(), queries=queries)
        with tr.span("writer"):
            Catalog(self.spark, base).save_dataset(ds)
        with tr.span("catalog.list"):
            names = Catalog(self.spark, base).list_datasets()
        with tr.span("reader"):
            back = Catalog(self.spark, base).load_dataset(self.NAME)
            bdocs, bqueries, meta = back.documents, back.queries, back.metadata
        with tr.span("readback"):
            n, h = bdocs.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64(*self.HASH_COLS))
            ).first()
            nq = bqueries.count()
        return {
            "count": n,
            "hash": h,
            "queries": nq,
            "metadata": meta.to_dict(),
            "names": names,
        }

    def check(self, got):
        return checks.check_publish(got, self.expect)

    def observe(self):
        """Bytes and files of the published dataset; its Parquet bytes
        over the Arrow bytes of the staged input."""
        total = files = parquet = 0
        for dirpath, _, names in os.walk(os.path.join(self.work, "catalog", self.NAME)):
            for name in names:
                size = os.path.getsize(os.path.join(dirpath, name))
                total += size
                files += 1
                parquet += size if name.endswith(".parquet") else 0
        return {
            "writer.bytes": total,
            "writer.files": files,
            "writer.storage_ratio": parquet / self.info["arrow_bytes"],
        }

    def cleanup(self):
        shutil.rmtree(os.path.join(self.work, "catalog", self.NAME), ignore_errors=True)

    def layers(self, spans, folded, got):
        return {
            "reader.open_s": _dur(spans, "reader"),
            "catalog.list_s": _dur(spans, "catalog.list"),
            "catalog.datasets": len(got["names"]),
            "writer.save_s": _dur(spans, "writer"),
        }


class CorpusDedup(Workload):
    def op(self, tr):
        from pinecone_datasets_spark.operators.dedup import (
            exact_dedup,
            minhash_lsh_candidates,
        )
        from pinecone_datasets_spark.operators.semdedup import semantic_dedup_pairs

        with tr.span("source"):
            df = self.spark.read.parquet(os.path.join(self.work, "corpus"))
        with tr.span("dedup.exact"):
            kept = [r[0] for r in exact_dedup(df).select("doc_id").collect()]
        with tr.span("dedup.minhash"):
            cands = [(r[0], r[1]) for r in minhash_lsh_candidates(df).collect()]
        with tr.span("semdedup"):
            sem = [
                (r[0], r[1], r[2])
                for r in semantic_dedup_pairs(
                    df, threshold=0.95, id_col="doc_id", dim=gen.DEDUP_DIM
                ).collect()
            ]
        return {"kept": kept, "candidates": cands, "sem_pairs": sem}

    def check(self, got):
        return checks.check_dedup(got, self.expect)

    def layers(self, spans, folded, got):
        n = len(got["candidates"])
        found = checks.planted_found(got["candidates"], self.expect)
        return {
            "dedup.exact_s": _dur(spans, "dedup.exact"),
            "dedup.minhash_s": _dur(spans, "dedup.minhash"),
            "dedup.candidates": n,
            "dedup.candidate_yield": found / n if n else 0.0,
            "semdedup.s": _dur(spans, "semdedup"),
            "semdedup.pairs": len(got["sem_pairs"]),
        }

    def traced_probes(self, tr):
        from pinecone_datasets_spark.operators.semdedup import (
            auto_bits,
            cell_census,
            srp_cells,
        )

        with tr.span("semdedup.census"):
            df = self.spark.read.parquet(os.path.join(self.work, "corpus"))
            cells = srp_cells(df, dim=gen.DEDUP_DIM, bits=auto_bits(self.info["docs"]))
            top = cell_census(cells).first()
        return {"semdedup.max_cell_rows": top["n_members"]}


PARTS = {
    "search_egress": SearchEgress,
    "corpus_dedup": CorpusDedup,
    "publish": Publish,
}


class Composite:
    """A workload whose operation runs its parts one after the other."""

    item = "input documents"

    def __init__(self, spark, work: str, workload: str, info: dict, expect: dict):
        self.parts = {
            name: PARTS[name](spark, work, info[name], expect[name])
            for name in gen.WORKLOADS[workload]
        }

    def op(self, tr):
        return {name: part.op(tr) for name, part in self.parts.items()}

    def prepare(self):
        for part in self.parts.values():
            part.prepare()

    def check(self, got):
        for name, part in self.parts.items():
            err = part.check(got[name])
            if err:
                return f"{name}: {err}"
        return None

    def observe(self):
        return {k: v for part in self.parts.values() for k, v in part.observe().items()}

    def cleanup(self):
        for part in self.parts.values():
            part.cleanup()

    def layers(self, spans, folded, got):
        return {
            k: v
            for name, part in self.parts.items()
            for k, v in part.layers(spans, folded, got[name]).items()
        }

    def traced_probes(self, tr):
        return {k: v for part in self.parts.values() for k, v in part.traced_probes(tr).items()}

    def items_per_op(self) -> int:
        """Input documents the operation processes, over all parts."""
        return sum(part.info["docs"] for part in self.parts.values())


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(workload: str, work: str, trace: bool):
    from pinecone_datasets_spark import get_spark_session

    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.enabled": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark_session(
        app_name=f"perfbench-{workload}", master=f"local[{cores()}]", extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def calibrate(spark) -> float:
    """Best of two runs of a fixed pure-JVM job (hash and bit-count a
    range); it touches no library code, so it tracks host speed only."""
    from pyspark.sql import functions as F

    n = cores()
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(0, 16_000_000 * n, 1, n).select(
            F.sum(F.bit_count(F.xxhash64("id")))
        ).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return best


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


CLK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by ``root`` and its descendants — this
    process, the Spark JVM and Spark's Python workers — counting children
    they have reaped."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            kids.setdefault(int(fields[1]), []).append(int(entry))
            ticks[int(entry)] = sum(map(int, fields[11:15]))  # u/s time, own + reaped
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / CLK


def steal_s() -> float:
    """CPU time the hypervisor has taken from this VM so far, over all
    its CPUs (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK


def run_op(wl: Workload, tr, check: bool = True) -> tuple[dict, object]:
    """One timed operation, then its untimed check and cleanup.  Returns
    the sample — wall seconds, CPU seconds of the whole process tree,
    seconds stolen from the VM meanwhile, error — and the result."""
    cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
    t0 = time.perf_counter()
    try:
        got = wl.op(tr)
        err = None
    except Exception as e:  # a failed operation is counted, not fatal
        got, err = None, f"{type(e).__name__}: {e}"
    sample = {
        "s": time.perf_counter() - t0,
        "cpu_s": tree_cpu_s(os.getpid()) - cpu0,
        "steal_s": steal_s() - steal0,
    }
    if got is None:
        wl.cleanup()
    elif check:
        err = finish_op(wl, got)
    sample["err"] = err
    return sample, got


def finish_op(wl: Workload, got) -> str | None:
    try:
        err = wl.check(got)
        got["extra"] = wl.observe()
    except Exception as e:
        err = f"check raised {type(e).__name__}: {e}"
    wl.cleanup()
    return err


def _medians(samples: list[dict]) -> dict:
    keys = sorted({k for s in samples for k in s})
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--work", required=True)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--result")
    args = p.parse_args(argv)
    trace = bool(args.trace)

    import pinecone_datasets_spark  # noqa: F401  (set-up includes the import)

    t0 = time.perf_counter()
    spark = start_session(args.workload, args.work, trace)
    session_start_s = time.perf_counter() - t0
    print("READY", flush=True)

    info, expect = gen.load_expect(args.work)
    wl = Composite(spark, args.work, args.workload, info, expect)
    tr = tracing.Tracer(spark.sparkContext) if trace else NullTracer()
    ops: list[dict] = []
    traced_ops: list[tuple[int, dict]] = []
    try:
        # The cold operation runs first in the fresh session, so it pays
        # plan build, code generation and Python worker start.  Its check
        # waits for prepare(), which may itself run jobs.
        tr.op = 0
        with tr.span("op"):
            cold, got = run_op(wl, tr, check=False)
        tr.op = None
        with tr.span("bench.calib"):
            calib_start = calibrate(spark)
        with tr.span("bench.prepare"):
            wl.prepare()
        if got is not None:
            cold["err"] = finish_op(wl, got)
        ops.append({**cold, "warm": False, "traced": trace})
        # Warm-up operations, checked but not in the warm statistics: the
        # JIT is still compiling, and the first warm operation cost 30-60 %
        # more CPU than the fourth.
        for _ in range(WARMUP_OPS):
            with tr.span("op"):
                sample, _ = run_op(wl, tr)
            ops.append({**sample, "warm": False, "traced": trace})

        # Stop before an operation that would likely end past the window.
        t_end = time.perf_counter() + args.seconds
        i = 0
        min_ops = MIN_TRACED_WARM_OPS if trace else MIN_WARM_OPS
        while i < min_ops or time.perf_counter() + statistics.median(
            o["s"] for o in ops if o["warm"]
        ) <= t_end:
            i += 1
            # Traced and untraced alternate T U U T T U U T ..., so a
            # warm-up trend over the run weighs on both sides alike.
            traced = trace and i % 4 in (0, 1)
            if trace:
                tr.op, tr.set_groups = i, traced
            with tr.span("op"):
                sample, got = run_op(wl, tr)
            ops.append(
                {**sample, "warm": True, "traced": traced,
                 "extra": got.get("extra", {}) if got else {}}
            )
            if traced and sample["err"] is None:
                traced_ops.append((i, got))
        tr.op = None
        if trace:
            tr.set_groups = True
        with tr.span("bench.calib"):
            calib_end = calibrate(spark)
        probes = wl.traced_probes(tr) if trace else {}
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
    finally:
        if trace:
            spark.stop()  # closes the event log

    layers, trace_detail = {}, {}
    if trace:
        (log,) = glob.glob(os.path.join(args.work, "events", "*"))
        jobs, stages = tracing.read_event_log(log)
        folded = tracing.fold(tr.spans, jobs, stages, cores())
        _, by_interval, unattributed = tracing.attribute(tr.spans, jobs)
        per_op = []
        for i, got in traced_ops:
            spans = [s for s in tr.spans if s["op"] == i]
            op_folded = {name: f for (op, name), f in folded.items() if op == i}
            m = wl.layers(spans, op_folded, got)
            m.update(got["extra"])
            for name, f in op_folded.items():
                m.update({f"{name}.{k}": v for k, v in f.items()})
            per_op.append(m)
        layers = _medians(per_op)
        layers.update(probes)
        layers["session.start_s"] = session_start_s
        warm = [o for o in ops if o["warm"]]
        layers["trace.overhead"] = statistics.median(
            o["s"] for o in warm if o["traced"]
        ) / statistics.median(o["s"] for o in warm if not o["traced"])
        layers["trace.unattributed_jobs"] = unattributed
        trace_detail = {
            "jobs": len(jobs),
            "jobs_attributed_by_interval": by_interval,
            "traced_ops": len(traced_ops),
            "spans": tr.spans,
        }

    result = {
        "ops": ops,
        "calib_s": [calib_start, calib_end],
        "peak_rss_mb": peak_rss_mb,
        "session_start_s": session_start_s,
        "items_per_op": wl.items_per_op(),
        "metered_ops": METERED_OPS,
        "item": wl.item,
        "info": info,
        "observed": _medians([o["extra"] for o in ops if o.get("extra")]),
        "layers": layers,
        "trace": trace_detail,
    }
    with open(args.result, "w") as f:
        json.dump(result, f)
    print("DONE", flush=True)
    time.sleep(3600)  # the parent kills the worker and its JVM


if __name__ == "__main__":
    sys.exit(main())
