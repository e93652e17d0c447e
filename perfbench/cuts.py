"""Layer cuts for the traced run: single-core timings of the library's
numpy kernels over fixed inputs, and Spark transport floors.

None of these run in an untraced run, so they perturb neither the
end-to-end timings nor ``driver_peak_rss_mb``.
"""

from __future__ import annotations

import copy
import pickle
import statistics
import time

import numpy as np

CUT_REPS = 3
KERNEL_SLICE_BUCKETS = 256  # fixed bucket slice: ~32k keys at 128 keys/bucket
WALK_KEYS = 1 << 20
SKETCH_ELEMS = 1 << 20
WINDOW_ROWS = 2_000


def median_wall(fn, reps: int = CUT_REPS) -> float:
    walls = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return statistics.median(walls)


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def mphf_cuts(run, keys, desc, leaf_size: int, avg_bucket: int) -> dict:
    """Kernel, walk and descriptor serialization over the workload's keys.

    ``desc`` is the workload's descriptor; a workload without one gets a
    single-process build over the gathered signatures."""
    from recsplit_spark.evaluate import VectorEvaluator
    from recsplit_spark.kernel import build_buckets
    from recsplit_spark.mphf import (
        MPHFDescriptor, bucket_log2_for, build_descriptor_from_sigs,
        gather_sig_array, key_sig_expr,
    )
    from recsplit_spark.settings import Settings, get_settings

    out = {}
    with run.tracer.span("cut.rule_table"):
        out["settings.rule_table_s"] = median_wall(
            lambda: Settings(leaf_size).ensure(4 * avg_bucket + 256)
        )
    salt = desc.salt if desc is not None else 0
    with run.tracer.span("cut.gather_sig_array"):
        sigs = gather_sig_array(keys, "doc_id", salt, 0)
    with run.tracer.span("cut.sig_hash"):
        out["mphf.sig_hash_s"] = median_wall(
            lambda: noop_sink(keys.select(key_sig_expr("doc_id", salt, 0)))
        )
    with run.tracer.span("cut.kernel"):
        blog2 = bucket_log2_for(len(sigs), avg_bucket)
        bids = (sigs >> (64 - blog2)) & np.int64((1 << blog2) - 1) if blog2 else 0 * sigs
        sel = np.flatnonzero(bids < KERNEL_SLICE_BUCKETS)
        order = sel[np.argsort(bids[sel], kind="stable")]
        b, s = bids[order], sigs[order]
        settings = get_settings(leaf_size)
        out["kernel.ns_per_key_1core"] = (
            median_wall(lambda: build_buckets(b, s, settings)) / len(s) * 1e9
        )
    if desc is None:
        desc = build_descriptor_from_sigs(sigs, leaf_size, avg_bucket)
    with run.tracer.span("cut.evaluate"):
        parts = (desc.settings, desc.bucket_log2, desc.offsets, desc.byte_starts, desc.stream)
        out["evaluate.decode_s"] = median_wall(lambda: VectorEvaluator(*parts))
        ve = VectorEvaluator(*parts)
        out["evaluate.state_bytes"] = len(pickle.dumps(ve))
        walk = np.resize(sigs, WALK_KEYS)
        out["evaluate.walk_ns_per_key_1core"] = (
            median_wall(lambda: ve.evaluate(walk)) / WALK_KEYS * 1e9
        )
    with run.tracer.span("cut.serialize"):
        blob = desc.to_bytes()
        out["mphf.descriptor_bytes"] = len(blob)
        out["mphf.to_bytes_s"] = median_wall(desc.to_bytes)
        out["mphf.from_bytes_s"] = median_wall(lambda: MPHFDescriptor.from_bytes(blob))
    return out


def sketch_cuts(run, seed_base: int) -> dict:
    """Per-sketch update and merge cost over fixed numpy inputs, and the
    n-gram window hash over a fixed token batch."""
    from recsplit_spark.data import sequence_batch
    from recsplit_spark.hashing import mix64
    from recsplit_spark.sketches import (
        KLL, BloomFilter, CountMinSketch, HyperLogLog, TDigest, token_ngram_hashes,
    )

    out = {}
    with run.tracer.span("cut.sketches"):
        h = mix64(np.arange(seed_base, seed_base + SKETCH_ELEMS, dtype=np.int64))
        v = (16 + (h.view(np.uint64) % np.uint64(497))).astype(np.float64)
        for name, sk, arr in (
            ("hll", HyperLogLog(p=14), h),
            ("cms", CountMinSketch(1e-4, 0.01), h),
            ("kll", KLL(200), v),
            ("tdigest", TDigest(200.0), v),
            ("bloom", BloomFilter(SKETCH_ELEMS, 0.01), h),
        ):
            def fold(a, sk=sk):
                st = sk.new_state()
                sk.update(st, a)
                return st

            out[f"sketches.{name}.update_ns_per_elem"] = (
                median_wall(lambda: fold(arr)) / len(arr) * 1e9
            )
            half = len(arr) // 2
            a, b = fold(arr[:half]), fold(arr[half:])
            pairs = [(copy.deepcopy(a), copy.deepcopy(b)) for _ in range(CUT_REPS)]
            out[f"sketches.{name}.merge_s"] = median_wall(
                lambda: sk.merge(*pairs.pop())
            )
            out[f"sketches.{name}.state_bytes"] = len(sk.to_bytes(fold(arr)))
        _ids, toks, _n, _src = sequence_batch(seed_base, seed_base + WINDOW_ROWS, True)
        flat = np.concatenate(toks)
        out["sketches.feed.window_hash_ns_per_token"] = (
            median_wall(lambda: token_ngram_hashes(flat, 5)) / len(flat) * 1e9
        )
    return out


def crossing_cut(run, feed) -> float:
    """Identity ``mapInArrow`` over exactly the columns the workload's main
    call ships to Python, into a noop sink: the JVM->Python transport floor."""
    with run.tracer.span("cut.crossing"):
        return median_wall(lambda: noop_sink(feed.mapInArrow(_identity, feed.schema)))
