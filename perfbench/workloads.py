"""The three seeded workloads: their inputs, timed library calls and checks.

Every input is a pure function of ``--seed``: row ids come from the range
``[seed * SEED_STRIDE, (seed + 1) * SEED_STRIDE)``, and ids are mapped to
keys through ``mix64``, a bijection, so keys are distinct by construction.
Non-members use ids ``NONMEMBER_OFFSET`` above the members, a disjoint
range. The library receives only the generated DataFrames.
"""

from __future__ import annotations

import hashlib
import math
import statistics

import numpy as np
import pyarrow as pa

SEED_STRIDE = 1 << 28
NONMEMBER_OFFSET = 1 << 27
DOC_C = 0x9E3779B97F4A7C15  # same id -> doc_id mixing as recsplit_spark.data

# Input sizes: each timed call runs ~0.3-1.5 s on 4 cores, so a run holds
# 4-8 reps and the reported median is steady on a shared host.
BUILD_KEYS = 400_000
LOOKUP_KEYS = 500_000
SEQ_ROWS = 16_000

LEAF_SIZE, AVG_BUCKET = 8, 128
NORTH_STAR_BITS_PER_KEY = 2.0
CMS_EPS, CMS_DELTA = 1e-4, 0.01
TDIGEST_RANK_TOL = 0.01
QUANTILES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
CMS_SAMPLE = 200
VOCAB = 50_257


def sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


# -- inputs -------------------------------------------------------------------

def doc_id_batch(lo: int, hi: int) -> pa.RecordBatch:
    """``doc-<16 hex of mix64(id ^ DOC_C)>`` for ids [lo, hi), built
    without per-row Python."""
    from recsplit_spark.hashing import mix64

    h = mix64(np.arange(lo, hi, dtype=np.uint64) ^ np.uint64(DOC_C))
    shifts = np.arange(60, -4, -4, dtype=np.uint64)
    nib = ((h[:, None] >> shifts[None, :]) & np.uint64(0xF)).astype(np.uint8)
    n = len(h)
    buf = np.empty((n, 20), dtype=np.uint8)
    buf[:, :4] = np.frombuffer(b"doc-", dtype=np.uint8)
    buf[:, 4:] = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)[nib]
    offsets = np.arange(0, 20 * (n + 1), 20, dtype=np.int32)
    arr = pa.StringArray.from_buffers(n, pa.py_buffer(offsets), pa.py_buffer(buf))
    return pa.RecordBatch.from_arrays([arr], ["doc_id"])


def _ranges(spark, lo: int, n: int, parts: int):
    """One row ``(lo, hi)`` per partition, splitting [lo, lo+n) evenly."""
    from pyspark.sql import functions as F

    p = F.col("id")
    return spark.range(0, parts, 1, parts).select(
        (F.lit(lo) + (p * n / parts).cast("long")).alias("lo"),
        (F.lit(lo) + ((p + 1) * n / parts).cast("long")).alias("hi"),
    )


def doc_ids(spark, lo: int, n: int, parts: int):
    def _gen(batches):
        for b in batches:
            for a, z in zip(b.column("lo").to_pylist(), b.column("hi").to_pylist()):
                yield doc_id_batch(a, z)

    return _ranges(spark, lo, n, parts).mapInArrow(_gen, "doc_id string")


def sequence_rows(spark, lo: int, n: int, parts: int):
    """Rows [lo, lo+n) of the ``recsplit_spark.data`` sequences table."""

    def _gen(batches):
        import pandas as pd

        from recsplit_spark.data import sequence_batch

        for pdf in batches:
            for a, z in zip(pdf["lo"], pdf["hi"]):
                ids, toks, n_tok, src = sequence_batch(int(a), int(z), with_tail=True)
                yield pd.DataFrame(
                    {"doc_id": ids, "tokens": toks, "n_tok": n_tok, "source": src}
                )

    schema = "doc_id string, tokens array<int>, n_tok int, source string"
    return _ranges(spark, lo, n, parts).mapInPandas(_gen, schema)


def cached(df):
    df = df.cache()
    return df, df.count()


# -- workloads ------------------------------------------------------------------

class Workload:
    """One seeded workload. ``rep`` is one closed-loop pass: each library
    call is issued only after the previous one returned."""

    name = ""
    primary = secondary = ""  # what the two end-to-end rates count
    primary_op = ""  # span name of the call behind the primary rate

    def __init__(self, run) -> None:
        self.run = run
        self.base = run.seed * SEED_STRIDE
        self.parts = 2 * run.cores

    def setup(self) -> None: ...
    def warm(self) -> None: ...
    def rep(self) -> None: ...
    def oracle(self) -> None: ...
    def end_to_end(self) -> dict: ...

    def cut_inputs(self):
        """(keys with a ``doc_id`` column, descriptor or None, the DataFrame
        of columns the primary call ships to Python) for the traced cuts."""


class BuildDocids(Workload):
    """The write path: ``RecSplitBuilder.build`` over distinct doc-id
    strings, and over distinct long ids (native long hashing)."""

    name = "build_docids"
    primary_op = "mphf.build"
    primary = "doc-id string keys built per second by RecSplitBuilder.build"
    secondary = "long keys built per second by RecSplitBuilder.build (key_mode 1)"

    def setup(self) -> None:
        from recsplit_spark.mphf import RecSplitBuilder

        spark = self.run.spark
        with self.run.tracer.span("data.input_gen"):
            self.keys, n = cached(doc_ids(spark, self.base, BUILD_KEYS, self.parts))
            self.ids, m = cached(spark.range(self.base, self.base + BUILD_KEYS, 1, self.parts))
        self.run.check("input.distinct_count", n == m == BUILD_KEYS, f"{n} strings, {m} ids")
        self.n = n
        self.builder = RecSplitBuilder(leaf_size=LEAF_SIZE, avg_bucket_size=AVG_BUCKET)
        self.descs: list = []
        self.long_descs: list = []

    def warm(self) -> None:
        self.builder.build(self.keys, "doc_id")
        self.builder.build(self.ids, "id")

    def rep(self) -> None:
        from recsplit_spark.mphf import MPHFDescriptor

        run = self.run
        self.descs.append(run.op("mphf.build", lambda: self.builder.build(self.keys, "doc_id")))
        self.long_descs.append(
            run.op("mphf.build_long", lambda: self.builder.build(self.ids, "id"))
        )
        with run.tracer.span("bench.check"):
            for kind, descs in (("string", self.descs), ("long", self.long_descs)):
                blob = descs[-1].to_bytes()
                run.check(f"mphf.{kind}_sha_stable_across_reps",
                          sha(blob) == sha(descs[0].to_bytes()), sha(blob)[:16])
                run.check(f"mphf.{kind}_roundtrip_identical",
                          MPHFDescriptor.from_bytes(blob).to_bytes() == blob, "")

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        want = self.n + (1 if self.run.wrong_oracle else 0)
        for kind, desc, df, col in (("string", self.descs[-1], self.keys, "doc_id"),
                                    ("long", self.long_descs[-1], self.ids, "id")):
            r = (
                desc.evaluate(df, col)
                .agg(F.count("*").alias("c"), F.countDistinct("mphf_index").alias("d"),
                     F.min("mphf_index").alias("lo"), F.max("mphf_index").alias("hi"))
                .first()
            )
            self.run.check(
                f"mphf.{kind}_bijection",
                r["c"] == want and r["d"] == want and r["lo"] == 0 and r["hi"] == want - 1,
                f"count={r['c']} distinct={r['d']} range=[{r['lo']},{r['hi']}] want n={want}",
            )
            bpk = desc.bits_per_key
            self.run.check(f"mphf.{kind}_bits_per_key_north_star",
                           bpk <= NORTH_STAR_BITS_PER_KEY, f"{bpk:.4f}")

    def end_to_end(self) -> dict:
        w = self.run.walls
        return {
            "primary_items_per_s": self.n / statistics.median(w["mphf.build"]),
            "secondary_items_per_s": self.n / statistics.median(w["mphf.build_long"]),
            "bits_per_key": self.descs[-1].bits_per_key,
        }

    def cut_inputs(self):
        from recsplit_spark.mphf import key_sig_expr

        feed = self.keys.select(key_sig_expr("doc_id", self.descs[-1].salt, 0).alias("sig"))
        return self.keys, self.descs[-1], feed


class LookupDocids(Workload):
    """The read path: ``evaluate`` over members and ``might_contain`` over a
    probe stream that is half non-members. Both structures are built in
    set-up, so the kernel does no timed work."""

    name = "lookup_docids"
    primary_op = "mphf.evaluate"
    primary = "member keys evaluated per second by MPHFDescriptor.evaluate"
    secondary = "probe rows per second through MPHFFilter.might_contain"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from recsplit_spark.filters import MPHFFilter

        run = self.run
        with run.tracer.span("data.input_gen"):
            members = doc_ids(run.spark, self.base, LOOKUP_KEYS, self.parts)
            self.members, n = cached(members)
            non = doc_ids(run.spark, self.base + NONMEMBER_OFFSET, LOOKUP_KEYS, self.parts)
            self.probe, m = cached(
                members.withColumn("member", F.lit(True)).unionByName(
                    non.withColumn("member", F.lit(False))
                )
            )
        run.check("input.distinct_count", n == LOOKUP_KEYS and m == 2 * LOOKUP_KEYS,
                  f"{n} members, {m} probe rows")
        self.n, self.m = n, m
        with run.tracer.span("filters.build"):
            self.filt = MPHFFilter.build(self.members, "doc_id",
                                         leaf_size=LEAF_SIZE, avg_bucket_size=AVG_BUCKET)
        self.desc = self.filt.desc
        self.fp_counts: list[int] = []

    def _evaluate(self):
        from pyspark.sql import functions as F

        return (
            self.desc.evaluate(self.members, "doc_id")
            .agg(F.count("*").alias("c"), F.sum("mphf_index").alias("s"),
                 F.max("mphf_index").alias("hi"))
            .first()
        )

    def _probe(self):
        from pyspark.sql import functions as F

        hit, mem = F.col("might_contain"), F.col("member")
        return (
            self.filt.might_contain(self.probe, "doc_id")
            .agg(F.sum(F.when(mem & ~hit, 1).otherwise(0)).alias("fn"),
                 F.sum(F.when(~mem & hit, 1).otherwise(0)).alias("fp"),
                 F.count("*").alias("c"))
            .first()
        )

    def warm(self) -> None:
        self._evaluate()
        self._probe()

    def rep(self) -> None:
        run, n = self.run, self.n
        r = run.op("mphf.evaluate", self._evaluate)
        p = run.op("filters.might_contain", self._probe)
        with run.tracer.span("bench.check"):
            run.check("evaluate.sum_is_permutation",
                      r["c"] == n and r["s"] == n * (n - 1) // 2 and r["hi"] == n - 1,
                      f"count={r['c']} sum={r['s']} max={r['hi']}")
            run.check("filters.no_false_negatives", p["fn"] == 0 and p["c"] == self.m,
                      f"fn={p['fn']} rows={p['c']}")
            self.fp_counts.append(p["fp"])
            run.check("filters.fp_stable_across_reps", p["fp"] == self.fp_counts[0],
                      f"{self.fp_counts}")

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        want = self.n + (1 if self.run.wrong_oracle else 0)
        d = (
            self.desc.evaluate(self.members, "doc_id")
            .agg(F.countDistinct("mphf_index").alias("d")).first()["d"]
        )
        self.run.check("mphf.bijection", d == want, f"distinct={d} want {want}")
        non = self.m - self.n
        p = self.filt.false_positive_rate
        sigma = math.sqrt(non * p * (1 - p))
        fp = self.fp_counts[-1]
        self.run.check("filters.fp_within_4_sigma", abs(fp - non * p) <= 4 * sigma,
                       f"fp={fp} expected {non * p:.1f} +- {4 * sigma:.1f}")

    @property
    def fp_frac(self) -> float:
        return self.fp_counts[-1] / (self.m - self.n)

    def end_to_end(self) -> dict:
        w = self.run.walls
        return {
            "primary_items_per_s": self.n / statistics.median(w["mphf.evaluate"]),
            "secondary_items_per_s": self.m / statistics.median(w["filters.might_contain"]),
            "bits_per_key": self.filt.bits_per_key,
        }

    def cut_inputs(self):
        from recsplit_spark.mphf import key_sig_expr

        feed = self.members.select(key_sig_expr("doc_id", self.desc.salt, 0).alias("sig"))
        return self.members, self.desc, feed


class SketchTokens(Workload):
    """The sketch path: one fused ``profile`` (HLL of doc_id, HLL of token
    5-grams, CMS of unigrams, KLL of n_tok) plus standalone scalar builds
    (HLL of doc_id, t-digest of n_tok, Bloom of doc_id). No MPHF layer runs."""

    name = "sketch_tokens"
    primary_op = "sketches.profile"
    primary = "tokens folded per second by the fused sketches.profile"
    secondary = "rows per second summed over the standalone scalar sketch builds"

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from recsplit_spark.sketches import (
            KLL, BloomFilter, CountMinSketch, HyperLogLog, SketchSpec, TDigest,
        )

        run = self.run
        with run.tracer.span("data.input_gen"):
            self.seq, rows = cached(sequence_rows(run.spark, self.base, SEQ_ROWS, self.parts))
            self.tokens = int(self.seq.agg(F.sum("n_tok")).first()[0])
        run.check("input.row_count", rows == SEQ_ROWS, f"{rows} rows")
        self.rows = rows
        self.hll, self.cms, self.kll = HyperLogLog(p=14), CountMinSketch(CMS_EPS, CMS_DELTA), KLL(200)
        self.tdigest, self.bloom = TDigest(200.0), BloomFilter(n_expected=rows, fpr=0.01)
        self.specs = [
            SketchSpec("doc_hll", self.hll, "doc_id"),
            SketchSpec("gram_hll", self.hll, "tokens", ngram=5),
            SketchSpec("tok_cms", self.cms, "tokens", ngram=1),
            SketchSpec("ntok_kll", self.kll, "n_tok"),
        ]
        self.first: dict[str, str] = {}
        self.last: dict = {}

    def _profile(self):
        from recsplit_spark.sketches import profile

        return profile(self.seq, self.specs)

    def _scalars(self):
        run = self.run
        return {
            "hll": run.op("sketches.hll.build", lambda: self.hll.build(self.seq, "doc_id")),
            "tdigest": run.op("sketches.tdigest.build",
                              lambda: self.tdigest.build(self.seq, "n_tok")),
            "bloom": run.op("sketches.bloom.build", lambda: self.bloom.build(self.seq, "doc_id")),
        }

    def warm(self) -> None:
        # two passes: after one, the profile still sped up over the next
        # few reps (JVM-side Arrow conversion of the token arrays warming)
        for _ in range(2):
            self._profile()
            self.hll.build(self.seq, "doc_id")
            self.tdigest.build(self.seq, "n_tok")
            self.bloom.build(self.seq, "doc_id")

    def rep(self) -> None:
        run = self.run
        prof = run.op("sketches.profile", self._profile)
        scal = self._scalars()
        with run.tracer.span("bench.check"):
            digests = {
                "doc_hll": sha(self.hll.to_bytes(prof["doc_hll"])),
                "gram_hll": sha(self.hll.to_bytes(prof["gram_hll"])),
                "tok_cms": sha(self.cms.to_bytes(prof["tok_cms"])),
                "hll": sha(self.hll.to_bytes(scal["hll"])),
                "bloom": sha(self.bloom.to_bytes(scal["bloom"])),
            }
            if not self.first:
                self.first = digests
            run.check("sketches.sha_stable_across_reps", digests == self.first, "")
            run.check("sketches.fused_equals_standalone_hll",
                      digests["doc_hll"] == digests["hll"], "")
        self.last = {**prof, **scal}

    def oracle(self) -> None:
        from pyspark.sql import functions as F

        from recsplit_spark.sketches import token_ngram_hashes

        run, seq, st = self.run, self.seq, self.last
        scale = 2.0 if run.wrong_oracle else 1.0
        # exact distinct counts: doc ids, and token 5-grams as structs of
        # five tokens (arrays_zip of the five shifted slices)
        grams = F.arrays_zip(*[F.expr(f"slice(tokens, {k}, n_tok - 4)") for k in range(1, 6)])
        exact_docs = seq.agg(F.countDistinct("doc_id")).first()[0] * scale
        exact_grams = (
            seq.select(F.explode(grams).alias("g")).agg(F.countDistinct("g")).first()[0] * scale
        )
        tol = 3 * self.hll.relative_error
        for name, exact in (("doc_hll", exact_docs), ("gram_hll", exact_grams), ("hll", exact_docs)):
            est = self.hll.estimate(st[name])
            run.check(f"sketches.{name}_within_3_rel_err", abs(est - exact) <= tol * exact,
                      f"est={est:.0f} exact={exact:.0f}")
        # CMS: point estimates for a fixed token sample
        rng = np.random.default_rng(run.seed)
        sample = sorted(set(rng.integers(0, VOCAB, CMS_SAMPLE).tolist()))
        truth = dict.fromkeys(sample, 0)
        for r in (
            seq.select(F.explode("tokens").alias("t")).where(F.col("t").isin(sample))
            .groupBy("t").count().collect()
        ):
            truth[r["t"]] = int(r["count"] * scale)
        slack = CMS_EPS * self.tokens
        ok = 0
        for t in sample:
            est = int(self.cms.query_hashes(st["tok_cms"], token_ngram_hashes([t], 1))[0])
            ok += truth[t] <= est <= truth[t] + slack
        run.check("sketches.cms_point_bounds", ok >= (1 - CMS_DELTA) * len(sample),
                  f"{ok}/{len(sample)} within [truth, truth+{slack:.0f}]")
        # quantile rank error against exact ranks of n_tok
        ests = {
            "kll": np.asarray(self.kll.quantile(st["ntok_kll"], list(QUANTILES)), dtype=float),
            "tdigest": np.asarray(self.tdigest.quantile(st["tdigest"], list(QUANTILES)), dtype=float),
        }
        aggs = []
        for name, xs in ests.items():
            for i, x in enumerate(xs):
                aggs += [F.sum((F.col("n_tok") < x * scale).cast("long")).alias(f"{name}_lt{i}"),
                         F.sum((F.col("n_tok") <= x * scale).cast("long")).alias(f"{name}_le{i}")]
        ranks = seq.agg(*aggs).first()
        for name, bound in (("kll", self.kll.epsilon), ("tdigest", TDIGEST_RANK_TOL)):
            worst = 0.0
            for i, q in enumerate(QUANTILES):
                lo, hi = ranks[f"{name}_lt{i}"] / self.rows, ranks[f"{name}_le{i}"] / self.rows
                worst = max(worst, max(0.0, lo - q, q - hi))
            run.check(f"sketches.{name}_rank_error", worst <= bound,
                      f"worst={worst:.4f} bound={bound:.4f}")
        # Bloom: no false negatives over every member doc id
        fn = (
            self.bloom.might_contain(seq, "doc_id", st["bloom"])
            .where(~F.col("might_contain")).count()
        )
        run.check("sketches.bloom_no_false_negatives", fn == 0, f"fn={fn}")
        # merge order: partial states folded forward and backward
        for name, sk, col, ngram, built in (
            ("hll", self.hll, "doc_id", None, st["hll"]),
            ("cms", self.cms, "tokens", 1, st["tok_cms"]),
            ("bloom", self.bloom, "doc_id", None, st["bloom"]),
        ):
            parts = [sk.from_bytes(bytes(r["state"]))
                     for r in sk.partials(seq, col, ngram=ngram).collect()]
            fwd, bwd = sk.new_state(), sk.new_state()
            for s in parts:
                fwd = sk.merge(fwd, s)
            for s in reversed(parts):
                bwd = sk.merge(bwd, s)
            a, b = sk.to_bytes(fwd), sk.to_bytes(bwd)
            run.check(f"sketches.{name}_merge_order_invariant",
                      a == b == sk.to_bytes(built), f"{len(parts)} partials")

    def end_to_end(self) -> dict:
        w = self.run.walls
        scalar = [sum(t) for t in zip(w["sketches.hll.build"], w["sketches.tdigest.build"],
                                      w["sketches.bloom.build"])]
        return {
            "primary_items_per_s": self.tokens / statistics.median(w["sketches.profile"]),
            "secondary_items_per_s": 3 * self.rows / statistics.median(scalar),
            "bits_per_key": 8.0 * len(self.bloom.to_bytes(self.last["bloom"])) / self.rows,
        }

    def cut_inputs(self):
        from pyspark.sql import functions as F

        feed = self.seq.select(
            "tokens", F.xxhash64(F.col("doc_id").cast("string")).alias("h"),
            F.col("n_tok").cast("double").alias("v"),
        )
        return self.seq, None, feed


WORKLOADS = {w.name: w for w in (BuildDocids, LookupDocids, SketchTokens)}
