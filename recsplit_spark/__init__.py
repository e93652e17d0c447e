"""recsplit_spark — PySpark-native RecSplit MPHF + mergeable sketch library.

A from-scratch re-expression (NOT a port) of the capabilities of
thomasmueller/minperf on idiomatic Spark: DataFrame/Column expressions for
hashing + bucketing, Arrow-vectorized pandas UDF kernels for the per-bucket
split-tree construction, an associative merge into a Rice/Golomb-coded
descriptor, plus mergeable sketch aggregations (HyperLogLog, count-min,
Bloom, KLL, t-digest, theta/KMV set operations, Misra-Gries heavy
hitters) with resumable checkpointed builds.
"""

__version__ = "0.1.0"


def _stat_gate_zip_invalidation() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive only
    when the archive changed.

    Every PySpark Python task calls ``importlib.invalidate_caches()``
    (``worker_util.setup_spark_files``). Before CPython 3.13 that makes
    each ``zipimporter`` re-parse its archive's whole central directory;
    a reused worker holds ~16 of them over ``pyspark.zip`` and the
    ``spark-core`` jar, measured at 0.1-0.35 s per task before the UDF
    starts. Any library UDF unpickles through this package, so importing
    it installs the gate in the worker.

    The wrapped method still re-reads when the archive's
    ``(st_ino, st_size, st_mtime_ns)`` differs from the stat taken before
    the last re-read of that archive, or when ``os.stat`` fails; otherwise
    it hands the importer the directory read at that stat, which is what
    a re-read would return. Idempotent; a no-op on 3.13+, where the stdlib
    re-read is already lazy."""
    import sys

    if sys.version_info >= (3, 13):
        return
    import functools
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if hasattr(reread, "__wrapped__"):
        return
    seen: dict = {}  # archive path -> (stat key, directory read at it)

    @functools.wraps(reread)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        hit = seen.get(self.archive)
        if key is not None and hit is not None and hit[0] == key:
            self._files = hit[1]
            return
        reread(self)
        # a failed read drops the archive from the stdlib cache: keep
        # retrying it on every call, as the stdlib does
        if key is not None and self.archive in zipimport._zip_directory_cache:
            seen[self.archive] = (key, self._files)
        else:
            seen.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_gate_zip_invalidation()


def __getattr__(name):  # lazy: keep numpy-only modules importable without pyspark
    if name in ("MPHFDescriptor", "RecSplitBuilder", "build_descriptor_from_sigs"):
        from . import mphf
        return getattr(mphf, name)
    if name in ("BlockedMPHF", "BlockedMPHFBuilder"):
        from . import blocked
        return getattr(blocked, name)
    if name in ("BDZBuilder", "BDZDescriptor", "build_bdz_from_sigs"):
        from . import bdz
        return getattr(bdz, name)
    if name in ("MPHFFilter", "XorFilter", "semi_join_prefilter",
                "prefiltered_join", "prefiltered_anti_join"):
        from . import filters
        return getattr(filters, name)
    if name == "CheckpointedBuild":
        from .sketches.checkpoint import CheckpointedBuild
        return CheckpointedBuild
    if name == "IncrementalMPHF":
        from .incremental_mphf import IncrementalMPHF
        return IncrementalMPHF
    if name in ("StreamingSketch", "StreamingMPHFIngest",
                "StreamingDedupIngest", "StreamingANNIngest"):
        from . import streaming
        return getattr(streaming, name)
    if name == "IncrementalDedup":
        from .pipeline.incremental_dedup import IncrementalDedup
        return IncrementalDedup
    if name == "IncrementalANN":
        from .pipeline.incremental_ann import IncrementalANN
        return IncrementalANN
    raise AttributeError(name)
