"""The two workloads.  Each times only calls into the program's public
functions, checks every output against ``refs`` and returns
``(end_to_end, attempted)``; per-layer figures go to ``run.layer`` and
failed checks to ``run.problems``.  An operation that raises ends the run.

Every run makes the same fixed number of timed operations, whatever the
speed of the program, so the segment log and the JIT state at the n-th
operation are the same in every run.  ``setup_s`` is the user+sys cpu of
the process tree from session start to the end of the set-up; the
reference computations and checks run after it.
"""

from __future__ import annotations

import json
import os
import sys
import time

import gen
import meter
import refs
from meter import median, p90

AUTHOR = "bench"
DATASET = "d"
LENSES = {"sum": refs.SUM_CODE, "inv": refs.INV_CODE, "cnt": refs.CNT_CODE}
LENS_INPUTS = {"sum": f"/datasets/{AUTHOR}:{DATASET}",
               "inv": f"/datasets/{AUTHOR}:{DATASET}",
               "cnt": f"/lenses/{AUTHOR}:sum"}
# export codec per collection: every upload codec is exercised both ways
EXPORTS = {("datasets", DATASET): "msgpack", ("lenses", "sum"): "cbor",
           ("lenses", "inv"): "jsonl", ("lenses", "cnt"): "msgpack"}
UPDATES = 1          # timed updates per run (one takes 14-21 s on 4 cores)
PASSES = 3           # timed jaccard + minhash pass pairs per run
READS_PER_UPDATE = 30
MINHASH_RECALL_FLOOR = 0.8


class Run:
    """State shared by a run: session, tracer, temp root, seed, and the
    process-tree cpu and clock readings taken before the session started."""

    def __init__(self, spark, tracer: meter.Tracer, tmp: str, seed: int,
                 cpu0: float, wall0: float):
        self.spark, self.tracer, self.tmp, self.seed = spark, tracer, tmp, seed
        self.cpu0, self.wall0 = cpu0, wall0
        self.layer: dict[str, float] = {}
        self.problems: list[str] = []
        self.groups = 0
        self.bookkeeping_s = 0.0

    def end_setup(self) -> float:
        """Cpu seconds of the set-up so far; its wall time goes to the
        traced run's ``setup.wall_s``."""
        self.layer["setup.wall_s"] = time.perf_counter() - self.wall0
        return meter.tree_cpu()["total"] - self.cpu0

    def check(self, problems: list[str]) -> None:
        self.problems.extend(problems)

    def group(self, label: str) -> str:
        """A fresh Spark job group for the next operation."""
        self.groups += 1
        gid = f"{label}-{self.groups}"
        self.spark.sparkContext.setJobGroup(gid, label)
        return gid

    def stats(self, gid: str) -> dict[str, float]:
        """Spark counts of a job group; the time spent asking is the
        traced run's bookkeeping, outside every timed operation."""
        t0 = time.perf_counter()
        out = meter.spark_group_stats(self.spark, gid)
        self.bookkeeping_s += time.perf_counter() - t0
        return out


def _plain(v):
    """Program value -> plain Python (PSet -> set) for comparison."""
    from pigeon_optics_spark.values import PSet

    if isinstance(v, PSet):
        return {_plain(m) for m in v.members}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    return v


def _lens_outputs(store) -> dict[str, dict]:
    return {name: {r["id"]: _plain(r["value"]) for r in
                   store.iterate(AUTHOR, name, source="lenses", fast_read=True)}
            for name in LENSES}


def _du(path: str) -> tuple[int, int]:
    """(bytes, parquet segment files) under ``path``."""
    size = segs = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(d, f))
            segs += f.endswith(".parquet")
    return size, segs


def _user_bytes(model: dict[str, dict]) -> int:
    return sum(len(json.dumps(v).encode()) for v in model.values())


# --------------------------------------------------------------------------
# layer probes shared by both workloads (pure Python, traced runs only)
# --------------------------------------------------------------------------

def layer_probes(run: Run, records: dict[str, dict]) -> None:
    """Per-layer costs measured by direct calls on generated values:
    codecs, object hashing and the merge-reduce fold."""
    from pigeon_optics_spark.codecs import codec_for
    from pigeon_optics_spark.reduce import fold
    from pigeon_optics_spark.values import PSet, object_hash

    entries = [{"id": rid, "data": v} for rid, v in records.items()]
    for name, (enc, _dec) in refs.CODECS.items():
        body = enc(entries)
        codec = codec_for(name)
        t0 = time.perf_counter()
        decoded = list(codec.decode_entries(body))
        dec_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        codec.encode_entries(decoded)
        enc_s = time.perf_counter() - t0
        run.layer[f"codecs.decode_s.{name}"] = dec_s
        run.layer[f"codecs.encode_s.{name}"] = enc_s
        run.layer[f"codecs.mb_per_s.{name}"] = len(body) / 1e6 / dec_s
    values = list(records.values())
    t0 = time.perf_counter()
    for v in values:
        object_hash(v)
    run.layer["values.hash_us_per_rec"] = (time.perf_counter() - t0) / len(values) * 1e6
    # fold inputs shaped like the lens emissions: numbers per key (the hot
    # key's list is the long one) and singleton Sets per word.  The cost
    # per value of a Set fold grows with the length of its list, so the
    # word lists keep their full length; only every 10th word is folded,
    # which keeps the probe to a few seconds at 50 000 records.
    by_key: dict[str, list] = {}
    by_word: dict[str, list] = {}
    for rid, v in records.items():
        by_key.setdefault(v["k"], []).append(v["n"])
        for w in v["words"]:
            by_word.setdefault(w, []).append(PSet([rid]))
    lists = list(by_key.values()) + [by_word[w] for w in sorted(by_word)[::10]]
    n_values = sum(len(x) for x in lists)
    t0 = time.perf_counter()
    for xs in lists:
        fold(xs)
    run.layer["reduce.fold_us_per_value"] = (time.perf_counter() - t0) / n_values * 1e6


# --------------------------------------------------------------------------
# reactive_update
# --------------------------------------------------------------------------

def _bootstrap(run: Run, root: str, records: dict[str, dict], timings: dict):
    """Upload -> decode -> bulk write -> full build of the lens DAG ->
    export.  Returns the store, the decoded upload and the export bodies;
    they are checked after the set-up."""
    from pigeon_optics_spark.lens import build_lens, create_lens
    from pigeon_optics_spark.sources.files import (
        export_collection_bytes,
        import_entries_bytes,
    )
    from pigeon_optics_spark.store import DatasetStore

    spark = run.spark
    ids = sorted(records)
    parts = {name: ids[i::3] for i, name in enumerate(refs.CODECS)}
    bodies = {name: refs.CODECS[name][0]([{"id": r, "data": records[r]} for r in part])
              for name, part in parts.items()}

    t0 = time.perf_counter()
    entries = []
    for name, body in bodies.items():
        with run.tracer.span("sources.import_entries_bytes", codec=name):
            entries += import_entries_bytes(body, name)
    timings["import"] = time.perf_counter() - t0

    store = DatasetStore(root)
    store.create(AUTHOR, DATASET)
    rows = [(rid, json.dumps(v)) for rid, v in entries]
    t0 = time.perf_counter()
    with run.tracer.span("store.write_entries_df"):
        df = spark.createDataFrame(rows, "record_id string, value string")
        store.write_entries_df(spark, AUTHOR, DATASET, df)
    timings["write_entries_df"] = time.perf_counter() - t0

    for name, code in LENSES.items():
        create_lens(store, AUTHOR, name, inputs=[LENS_INPUTS[name]], code=code)
    c0 = meter.tree_cpu()
    for name in LENSES:
        t0 = time.perf_counter()
        with run.tracer.span("lens.build_lens", lens=name):
            build_lens(spark, store, AUTHOR, name)
        timings[f"build.{name}"] = time.perf_counter() - t0
    timings["build_cpu"] = meter.cpu_delta(c0, meter.tree_cpu())["total"]

    t0 = time.perf_counter()
    exported = {}
    for (source, name), codec in EXPORTS.items():
        with run.tracer.span("sources.export_collection_bytes", collection=name):
            exported[(source, name)] = export_collection_bytes(
                store, AUTHOR, name, codec, source=source)
    timings["export"] = time.perf_counter() - t0
    return store, entries, exported


def _direct_map_reduce(run: Run, store, model: dict[str, dict]) -> None:
    """lens.map_records and lens.reduce_outputs called directly on the
    dataset, with the sum lens's code (the hot-key fold)."""
    from pyspark.sql import functions as F

    from pigeon_optics_spark.lens import map_records, reduce_outputs

    spark = run.spark
    src = store.read_df(spark, AUTHOR, DATASET).select(
        F.lit(0).alias("input_idx"),
        F.concat(F.lit(LENS_INPUTS["sum"] + "/records/"), "record_id").alias("path"),
        F.lit("datasets").alias("source"), F.lit(AUTHOR).alias("author"),
        F.lit(DATASET).alias("name"), "record_id", "version", "value")
    src = src.persist()
    src.count()
    mapped_dir = os.path.join(run.tmp, "mapped.parquet")
    t0 = time.perf_counter()
    map_records(src, refs.SUM_CODE).write.mode("overwrite").parquet(mapped_dir)
    run.layer["lens.map_s"] = time.perf_counter() - t0
    src.unpersist(blocking=True)
    emitted = spark.read.parquet(mapped_dir).select(
        "input_idx", "nat_key", F.col("record_id").alias("src_rid"),
        F.explode(F.from_json("outputs", "array<struct<i:int,k:string,v:string>>")).alias("e"),
    ).select(F.col("e.k").alias("out_id"), "input_idx", "nat_key", "src_rid",
             F.col("e.i").alias("emit_idx"), F.col("e.v").alias("value"))
    emitted_dir = os.path.join(run.tmp, "emitted.parquet")
    emitted.write.mode("overwrite").parquet(emitted_dir)
    t0 = time.perf_counter()
    reduced = reduce_outputs(spark.read.parquet(emitted_dir)).collect()
    run.layer["lens.reduce_s"] = time.perf_counter() - t0
    want = refs.expected_lenses(model)["sum"]
    got = {r["record_id"]: json.loads(r["value"]) for r in reduced}
    run.check(refs.check_lenses({"sum": want}, {"sum": got}))


def reactive_update(run: Run):
    from pigeon_optics_spark.streaming import rebuild_affected

    spark, seed = run.spark, run.seed
    records = gen.records(seed)
    # one bootstrap: a bulk load plus three full builds, too long to repeat
    # inside a run; its parts are the sources.*, store.* and lens.build_s.*
    # layers
    timings: dict = {}
    run.group("bootstrap")
    with run.tracer.span("bootstrap"):
        store, decoded, exported = _bootstrap(
            run, os.path.join(run.tmp, "store"), records, timings)
    setup_s = run.end_setup()

    run.check(refs.check_export(records, [{"id": r, "data": v} for r, v in decoded],
                                "decoded upload"))
    expected = refs.expected_lenses(records)
    run.check(refs.check_lenses(expected, _lens_outputs(store)))
    for (source, name), codec in EXPORTS.items():
        want = records if source == "datasets" else expected[name]
        run.check(refs.check_export(
            want, refs.CODECS[codec][1](exported[(source, name)]), f"export {name}"))
    del decoded, exported

    # identical rewrites: no version bump, nothing mapped.  Untimed in the
    # end-to-end metrics, and run in traced and untraced runs alike, so
    # both time the same updates after the same work.
    v0 = store.get_meta(AUTHOR, DATASET).version
    run.group("noop")
    t0 = time.perf_counter()
    with run.tracer.span("streaming.noop_cascade"):
        store.write_entries(AUTHOR, DATASET, gen.noop_batch(seed, records))
        built = rebuild_affected(spark, store, [LENS_INPUTS["sum"]])
    noop_s = time.perf_counter() - t0
    if store.get_meta(AUTHOR, DATASET).version != v0:
        run.check(["noop batch bumped the dataset version"])
    if any(b["mapped"] or b["records_changed"] for b in built):
        run.check([f"noop batch mapped records: {built}"])

    upd_wall, upd_cpu, write_s, cascade_s, reads_ms = [], [], [], [], []
    builds, changed, mapped, stats = [], [], [], []
    cpu_parts: dict[str, float] = {}
    model = dict(records)
    for op in range(UPDATES):
        batch = gen.update_batch(seed, op, model)
        gid = run.group("update")
        c0 = meter.tree_cpu()
        t0 = time.perf_counter()
        with run.tracer.span("update"):
            with run.tracer.span("store.write_entries"):
                store.write_entries(AUTHOR, DATASET, batch)
            t1 = time.perf_counter()
            with run.tracer.span("streaming.rebuild_affected"):
                built = rebuild_affected(spark, store, [LENS_INPUTS["sum"]])
        t2 = time.perf_counter()
        cpu = meter.cpu_delta(c0, meter.tree_cpu())
        upd_wall.append(t2 - t0)
        write_s.append(t1 - t0)
        cascade_s.append(t2 - t1)
        upd_cpu.append(cpu["total"])
        for k, v in cpu.items():
            cpu_parts[k] = cpu_parts.get(k, 0.0) + v
        builds.append(len(built))
        changed.append(sum(1 for b in built if b["records_changed"]))
        mapped.append(sum(b["mapped"] for b in built))
        if run.tracer.enabled:
            stats.append(run.stats(gid))

        for rid, v in batch:
            if v is None:
                model.pop(rid, None)
            else:
                model[rid] = v
        outputs = _lens_outputs(store)
        run.check(refs.check_lenses(refs.expected_lenses(model), outputs))
        targets = gen.read_keys(seed, op, {k: sorted(v) for k, v in outputs.items()},
                                READS_PER_UPDATE)
        for lens, rid in targets:
            t0 = time.perf_counter()
            with run.tracer.span("store.read"):
                got = store.read(AUTHOR, lens, rid, source="lenses")
            reads_ms.append((time.perf_counter() - t0) * 1e3)
            if _plain(got) != outputs[lens][rid]:
                run.check([f"read {lens}/{rid} disagrees with iterate"])

    print(f"perfbench: update s {[round(x, 2) for x in upd_wall]} cpu s "
          f"{[round(x, 1) for x in upd_cpu]} setup cpu s {setup_s:.1f}", file=sys.stderr)
    disk, segs = _du(store.root)
    lay = run.layer
    if run.tracer.enabled:
        # after the timed updates, so the traced run times the same work
        _direct_map_reduce(run, store, model)
        for name, fn in (("store.read_df_s", lambda: store.read_df(spark, AUTHOR, DATASET).count()),
                         ("store.iterate_s", lambda: sum(1 for _ in store.iterate(
                             AUTHOR, DATASET, fast_read=True)))):
            t0 = time.perf_counter()
            fn()
            lay[name] = time.perf_counter() - t0
    lay.update({
        "reactive.update_p50_s": median(upd_wall),
        "reactive.read_p90_ms": p90(reads_ms),
        "reactive.store_bytes_per_user_byte": disk / _user_bytes(model),
        "bulk.cpu_s_per_build": timings["build_cpu"],
        "sources.import_s": timings["import"],
        "sources.export_s": timings["export"],
        "store.write_entries_s": median(write_s),
        "store.write_entries_df_s": timings["write_entries_df"],
        "store.read_ms": median(reads_ms),
        "store.segments": segs,
        "store.bytes_on_disk": disk,
        "streaming.cascade_s": median(cascade_s),
        "streaming.builds_per_update": median(builds),
        "streaming.changed_build_ratio": sum(changed) / max(1, sum(builds)),
        "streaming.noop_cascade_s": noop_s,
        "lens.mapped_records": median(mapped),
    })
    for name in LENSES:
        lay[f"lens.build_s.{name}"] = timings[f"build.{name}"]
    if stats:
        per_build = [{k: v / max(1, b) for k, v in s.items()} for s, b in zip(stats, builds)]
        for key in ("jobs", "stages", "tasks", "shuffle_bytes"):
            lay[f"lens.{key}_per_build"] = median([p[key] for p in per_build])
    _process_layer(run, cpu_parts, UPDATES)
    return {"setup_s": setup_s, "cpu_s_per_op": median(upd_cpu)}, UPDATES


def _process_layer(run: Run, cpu_parts: dict[str, float], n_ops: int) -> None:
    run.layer["process.jvm_cpu_s"] = cpu_parts.get("jvm", 0.0) / n_ops
    run.layer["process.python_worker_cpu_s"] = cpu_parts.get("python_workers", 0.0) / n_ops
    run.layer["process.driver_py_cpu_s"] = cpu_parts.get("driver_py", 0.0) / n_ops
    run.layer["process.jvm_peak_rss_mb"] = meter.jvm_peak_rss_mb()


# --------------------------------------------------------------------------
# dedup_pairs
# --------------------------------------------------------------------------

def dedup_pairs(run: Run):
    from pigeon_optics_spark.pipeline.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    spark = run.spark

    def passes(df):
        out = {}
        for name, fn in (("jaccard", ngram_jaccard_pairs), ("minhash", minhash_lsh_pairs)):
            gid = run.group(f"dedup.{name}")
            t0 = time.perf_counter()
            with run.tracer.span(f"pipeline.dedup.{name}"):
                rows = [tuple(r) for r in fn(df).collect()]
            out[name] = (rows, time.perf_counter() - t0, gid)
        return out

    docs = gen.corpus(run.seed)
    path = os.path.join(run.tmp, "corpus.parquet")
    spark.createDataFrame(docs, "doc_id string, text string") \
        .write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    df.count()
    # warm-up: the first pass pays JIT compilation that later passes do
    # not; cpu per timed pass still falls ~40% from the first to the
    # third, and the median of the timed passes takes the middle one
    t0 = time.perf_counter()
    warm = passes(df)
    run.layer["dedup.warmup_s"] = time.perf_counter() - t0
    setup_s = run.end_setup()

    ref = refs.exact_pairs(docs)
    run.check(refs.check_exact_pairs(ref, warm["jaccard"][0]))
    walls, cpus, jac_s, mh_s, stats = [], [], [], [], []
    cpu_parts: dict[str, float] = {}
    for _ in range(PASSES):
        c0 = meter.tree_cpu()
        t0 = time.perf_counter()
        out = passes(df)
        walls.append(time.perf_counter() - t0)
        cpu = meter.cpu_delta(c0, meter.tree_cpu())
        cpus.append(cpu["total"])
        for k, v in cpu.items():
            cpu_parts[k] = cpu_parts.get(k, 0.0) + v
        jac_s.append(out["jaccard"][1])
        mh_s.append(out["minhash"][1])
        run.check(refs.check_exact_pairs(ref, out["jaccard"][0]))
        run.check(refs.check_minhash_pairs(ref, out["minhash"][0], MINHASH_RECALL_FLOOR))
        if run.tracer.enabled:
            stats.append([run.stats(out[k][2]) for k in ("jaccard", "minhash")])
    print(f"perfbench: pass s {[round(x, 2) for x in walls]} cpu s "
          f"{[round(x, 1) for x in cpus]} setup cpu s {setup_s:.1f}", file=sys.stderr)

    n_exact, n_mh = len(out["jaccard"][0]), len(out["minhash"][0])
    lay = run.layer
    lay.update({
        "dedup.jaccard_s": median(jac_s),
        "dedup.minhash_s": median(mh_s),
        "dedup.pairs_exact": n_exact,
        "dedup.pairs_minhash": n_mh,
        "dedup.recall": n_mh / n_exact if n_exact else 1.0,
    })
    if stats:
        lay["dedup.jobs_per_pass"] = median([s["jobs"] for pair in stats for s in pair])
        lay["dedup.shuffle_bytes_per_pass"] = median(
            [s["shuffle_bytes"] for pair in stats for s in pair])
    _process_layer(run, cpu_parts, PASSES)
    return {"setup_s": setup_s, "cpu_s_per_op": median(cpus)}, PASSES


WORKLOADS = {"reactive_update": reactive_update, "dedup_pairs": dedup_pairs}
