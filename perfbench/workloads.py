"""The three workloads: seeded inputs, the one timed operation each loops,
and that operation's output checks.

Inputs are generated JVM-side from the seed (xxhash64 of the row id, the
seed and a per-field salt), so one seed gives the same rows on any
partitioning.  Every operation calls the library's public API only.
"""

from __future__ import annotations

import hashlib
import math
import struct

import numpy as np
from pyspark.sql import functions as F

from fastfilter_spark import build_sharded
from fastfilter_spark.functions.sketches import (
    KLL, CountMin, HyperLogLog, ThetaKMV,
)
from fastfilter_spark.operators.local import fuse_layout
from fastfilter_spark.operators.sketch_agg import (
    cms_sketch, hll_count_distinct, kll_quantiles, theta_sketch,
)
from fastfilter_spark.sources.webpages import url_keys

DUP_SHARE = 0.10          # share of rows repeating another row's url
DOMAINS = 50_000          # zipf(s~1) domain universe
FPP_TARGET = 2.0 ** -8    # fuse8
FPP_SLACK_Z = 5.0         # binomial slack, in standard deviations
QUANTILES = [i / 100 for i in range(1, 100)]
SLICES = 128              # hash slices pooled by the sketch error ratio

# One-shot sketch configurations and their published error bounds.
HLL_P, THETA_K, KLL_K, CMS_W, CMS_D = 12, 4096, 200, 2048, 5
# Smaller per-slice configurations, sized so each slice (about 10^4
# distinct urls) sits in the sketch's estimating regime, not exact mode.
SLICE_HLL_P, SLICE_THETA_K, SLICE_CMS_W = 8, 256, 256
KLL_EPS = 0.0165          # KLL k=200 normalized rank error (99%, two-sided)
SIGMAS = 4.0              # HLL / theta bound: 4 published standard errors


def hll_bound(p: int) -> float:
    return SIGMAS * 1.04 / math.sqrt(1 << p)


def theta_bound(k: int) -> float:
    return SIGMAS / math.sqrt(k - 2)


def cms_eps(width: int) -> float:
    return math.e / width


def fpp_limit(n_nonmembers: int) -> float:
    """Largest false-positive count accepted over ``n_nonmembers``."""
    mean = n_nonmembers * FPP_TARGET
    return mean + FPP_SLACK_Z * math.sqrt(mean * (1 - FPP_TARGET))


# -- inputs ---------------------------------------------------------------------

def _unit(col, seed: int, salt: int):
    """Uniform [0, 1) from a 53-bit slice of xxhash64(col, seed, salt)."""
    h = F.xxhash64(col, F.lit(seed), F.lit(salt))
    return h.bitwiseAND(F.lit((1 << 53) - 1)) / float(1 << 53)


def url_table(spark, seed: int, n: int, partitions: int):
    """DataFrame(url, bytes, slice) of ``n`` rows, not persisted.
    DUP_SHARE of the rows repeat a uniformly chosen row's url; domains
    are log-uniform over DOMAINS (zipf, s ~ 1); ``bytes`` is log-normal."""
    rid = F.col("id")
    uid = F.when(_unit(rid, seed, 1) < DUP_SHARE,
                 F.pmod(F.xxhash64(rid, F.lit(seed), F.lit(2)), F.lit(n))
                 ).otherwise(rid)
    dom = F.floor(F.exp(F.lit(math.log(DOMAINS + 1.0))
                        * _unit(F.col("uid"), seed, 3)))
    path = F.hex(F.xxhash64(F.col("uid"), F.lit(seed), F.lit(4)))
    u1 = _unit(F.col("uid"), seed, 5) * 0.999999 + 1e-6
    u2 = _unit(F.col("uid"), seed, 6)
    gauss = F.sqrt(-2.0 * F.log(u1)) * F.cos(2 * math.pi * u2)
    return (spark.range(0, n, numPartitions=partitions)
            .select(rid, uid.alias("uid"))
            .select(F.concat(F.lit("https://www.d"), dom.cast("string"),
                             F.lit(".example.com/"), path).alias("url"),
                    F.exp(F.lit(8.0) + F.lit(1.5) * gauss).alias("bytes"))
            .withColumn("slice", F.pmod(F.xxhash64("url"), F.lit(SLICES))))


def check_payloads(payloads: list[bytes]) -> tuple[list[str], int]:
    """Each fuse8 shard payload must be exactly the reference size for
    its key count: a 28-byte header plus fuse_layout(size) array bytes.
    Returns (problems, key count summed over the shards)."""
    problems, keys = [], 0
    for shard, p in enumerate(payloads):
        _seed, size, _seg, _cnt, _cnt_len, array_len = \
            struct.unpack_from("<QIIIII", p)
        keys += size
        want = fuse_layout(size)[3]
        if array_len != want or len(p) != 28 + want:
            problems.append(f"shard {shard}: {len(p)} bytes, expected "
                            f"{28 + want} for {size} keys")
    return problems, keys


# -- workloads ------------------------------------------------------------------

class Workload:
    """One workload: ``setup`` generates and persists the inputs (timed,
    repeated), ``prepare_checks`` computes what the checks compare
    against (untimed, once), ``op`` is the one public operation the loop
    times, and ``check`` lists what is wrong with one output."""

    name = ""
    op_name = ""
    rows = 0
    table = None    # filter table DataFrame of the last filter built, if any

    def __init__(self, spark, seed: int, partitions: int,
                 rows: int | None = None):
        self.spark = spark
        self.seed = seed
        self.partitions = partitions
        if rows is not None:
            self.rows = rows
        self._persisted: list = []

    def _persist(self, df):
        df = df.persist()
        self._persisted.append(df)
        return df

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist(blocking=True)
        self._persisted = []

    def setup(self) -> list[str]:
        raise NotImplementedError

    def prepare_checks(self) -> None:
        pass

    def op(self):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def keys_per_job(self) -> int:
        return self.rows

    def err_ratio(self) -> float:
        raise NotImplementedError

    def bits_per_key(self) -> float:
        """Bits per key of the filter this workload builds; 0 if none."""
        return 0.0


class BuildUrls(Workload):
    """Loops the fuse8 build over a persisted url table, 64 shards."""

    name = "build_urls"
    op_name = "build"
    rows = 4_000_000
    shard_bits = 6
    fpp_sample = 4_000_000

    def setup(self) -> list[str]:
        self.urls = self._persist(url_table(
            self.spark, self.seed, self.rows, self.partitions).select("url"))
        n = self.urls.count()
        return [] if n == self.rows else [f"url table has {n} rows"]

    def prepare_checks(self) -> None:
        keys = url_keys(self.urls).toPandas()["key"].to_numpy()
        self.distinct = int(np.unique(keys).size)
        # random 64-bit keys; each is a member with probability ~2e-13
        rng = np.random.default_rng(self.seed)
        self.nonmembers = rng.integers(-2**63, 2**63 - 1, self.fpp_sample,
                                       dtype=np.int64, endpoint=True)
        self.sha256 = None
        self.fpp = None
        self.bits_per_filter_key = None

    def op(self):
        sf, self.table = build_sharded(url_keys(self.urls), "key",
                                       kind="fuse8", shard_bits=self.shard_bits)
        return sf

    def check(self, sf) -> list[str]:
        problems, keys = check_payloads(sf.payloads)
        if keys != self.distinct:
            problems.append(f"{keys} keys in shards, {self.distinct} "
                            "distinct urls")
        digest = hashlib.sha256(b"".join(sf.payloads)).hexdigest()
        if self.sha256 is None:
            # every later build must be byte-identical, so the driver-side
            # false-positive check runs once, on the first build
            self.sha256 = digest
            hits = int(sf.contain_np(self.nonmembers).sum())
            self.fpp = hits / self.nonmembers.size
            self.bits_per_filter_key = sf.size_in_bytes() * 8.0 / max(keys, 1)
            if hits > fpp_limit(self.nonmembers.size):
                problems.append(f"{hits} false positives over "
                                f"{self.nonmembers.size} non-members")
        elif digest != self.sha256:
            problems.append(f"filter sha256 {digest[:12]} differs from the "
                            f"first build's {self.sha256[:12]}")
        return problems

    def err_ratio(self) -> float:
        return (self.fpp or 0.0) / FPP_TARGET

    def bits_per_key(self) -> float:
        return self.bits_per_filter_key or 0.0


class ProbeUrls(Workload):
    """Loops the broadcast probe of a stream of half members, half
    non-members through a 1024-shard fuse8 filter built during set-up.

    A probe key's sign is its label: members are the url keys >= 0,
    non-members are keys < 0 of urls from a namespace the url table
    never uses, so one groupBy splits the hits into true and false
    positives without a join."""

    name = "probe_urls"
    op_name = "probe"
    rows = 1_500_000      # url rows the filter is built over
    shard_bits = 10

    def setup(self) -> list[str]:
        urls = url_table(self.spark, self.seed, self.rows, self.partitions)
        keys = url_keys(urls)
        self.sf, self.table = build_sharded(keys, "key", kind="fuse8",
                                            shard_bits=self.shard_bits)
        non = (self.spark.range(0, self.rows, numPartitions=self.partitions)
               .select(F.xxhash64(F.concat(
                   F.lit("https://nonmember.invalid/"),
                   F.col("id").cast("string"),
                   F.lit(f"/{self.seed}"))).alias("key"))
               .where(F.col("key") < 0))
        self.probes = self._persist(
            keys.where(F.col("key") >= 0).unionByName(non))
        counts = {r[0]: r[1] for r in self.probes.groupBy(
            F.col("key") >= 0).count().collect()}
        self.n_members = counts.get(True, 0)
        self.n_nonmembers = counts.get(False, 0)
        problems, _ = check_payloads(self.sf.payloads)
        return problems

    def prepare_checks(self) -> None:
        self.fpp = None

    def op(self):
        contains = self.sf.contains_udf(self.spark)
        rows = (self.probes.where(contains(F.col("key")))
                .groupBy((F.col("key") >= 0).alias("m")).count().collect())
        got = {r["m"]: r["count"] for r in rows}
        return got.get(True, 0), got.get(False, 0)

    def check(self, out) -> list[str]:
        hits_members, hits_non = out
        self.fpp = hits_non / max(self.n_nonmembers, 1)
        problems = []
        if hits_members != self.n_members:
            problems.append(f"{self.n_members - hits_members} false negatives")
        if hits_non > fpp_limit(self.n_nonmembers):
            problems.append(f"{hits_non} false positives over "
                            f"{self.n_nonmembers} non-members")
        return problems

    def keys_per_job(self) -> int:
        return self.n_members + self.n_nonmembers

    def err_ratio(self) -> float:
        return (self.fpp or 0.0) / FPP_TARGET

    def bits_per_key(self) -> float:
        _, keys = check_payloads(self.sf.payloads)
        return self.sf.size_in_bytes() * 8.0 / max(keys, 1)


class SketchUrls(Workload):
    """Loops the four one-shot sketch aggregates over a persisted url
    table."""

    name = "sketch_urls"
    op_name = "sketch"
    rows = 1_500_000

    def setup(self) -> list[str]:
        self.urls = self._persist(url_table(
            self.spark, self.seed, self.rows, self.partitions))
        n = self.urls.count()
        return [] if n == self.rows else [f"url table has {n} rows"]

    def prepare_checks(self) -> None:
        """Exact answers, from the collected (slice, key, bytes) columns."""
        pdf = self.urls.select("slice", F.xxhash64("url").alias("key"),
                               "bytes").toPandas()
        keys = pdf["key"].to_numpy(np.int64)
        values = pdf["bytes"].to_numpy(np.float64)
        slices = pdf["slice"].to_numpy(np.int64)
        self.keys, self.counts = np.unique(keys, return_counts=True)
        self.values = np.sort(values)
        order = np.argsort(slices, kind="stable")
        bounds = np.searchsorted(slices[order], np.arange(SLICES + 1))
        self.slices = [order[bounds[s]:bounds[s + 1]] for s in range(SLICES)]
        self._rows_keys, self._rows_values = keys, values

    def op(self):
        return {
            "hll": hll_count_distinct(self.urls, "url", p=HLL_P),
            "kll": kll_quantiles(self.urls, "bytes", QUANTILES, k=KLL_K),
            "cms": cms_sketch(self.urls, "url", width=CMS_W, depth=CMS_D),
            "theta": theta_sketch(self.urls, "url", k=THETA_K),
        }

    def check(self, out) -> list[str]:
        d = self.keys.size
        problems = []
        rel = abs(out["hll"] - d) / d
        if rel > hll_bound(HLL_P):
            problems.append(f"hll relative error {rel:.4f} > "
                            f"{hll_bound(HLL_P):.4f}")
        rel = abs(out["theta"].estimate() - d) / d
        if rel > theta_bound(THETA_K):
            problems.append(f"theta relative error {rel:.4f} > "
                            f"{theta_bound(THETA_K):.4f}")
        n = self.values.size
        worst = max(abs(np.searchsorted(self.values, v, side="right") / n - q)
                    for q, v in zip(QUANTILES, out["kll"]))
        if worst > KLL_EPS:
            problems.append(f"kll rank error {worst:.4f} > {KLL_EPS}")
        ratio, under = cms_error(out["cms"], self.keys, self.counts)
        if under or ratio > 1.0 or out["cms"].total != self.rows:
            problems.append(f"cms overestimate {ratio:.3f} x eps*N "
                            f"(underestimate: {under}, "
                            f"total {out['cms'].total})")
        return problems

    def err_ratio(self) -> float:
        """Largest, over the four sketches, of the RMS across SLICES hash
        slices of (observed error / published bound).  One estimate's
        error is a single random draw whose spread across seeds is about
        its own size; pooling SLICES independent draws makes the ratio
        repeatable.  The slices are sketched on the driver with the
        library's sketch classes; the one-shot Spark estimates are held
        to the same bounds by ``check`` on every job."""
        errs = {"hll": [], "theta": [], "cms": [], "kll": []}
        for idx in self.slices:
            rows_keys = self._rows_keys[idx]
            keys, counts = np.unique(rows_keys, return_counts=True)
            d = keys.size
            if d == 0:  # only tiny inputs leave a slice empty
                continue
            hll = HyperLogLog(SLICE_HLL_P).update(rows_keys)
            errs["hll"].append(abs(hll.estimate() - d) / d
                               / hll_bound(SLICE_HLL_P))
            theta = ThetaKMV(SLICE_THETA_K).update(rows_keys)
            errs["theta"].append(abs(theta.estimate() - d) / d
                                 / theta_bound(SLICE_THETA_K))
            cms = CountMin(SLICE_CMS_W, CMS_D).update(rows_keys)
            errs["cms"].append(cms_error(cms, keys, counts)[0])
            values = self._rows_values[idx]
            kll = KLL(KLL_K).update(values)
            errs["kll"].append(kll_rank_error(kll, np.sort(values)) / KLL_EPS)
        per = {k: float(np.sqrt(np.mean(np.square(v)))) for k, v in errs.items()}
        self.err_per_sketch = per
        return max(per.values())


def kll_rank_error(sketch, sorted_values: np.ndarray) -> float:
    n = sorted_values.size
    return max(abs(np.searchsorted(sorted_values, sketch.quantile(q),
                                   side="right") / n - q) for q in QUANTILES)


def cms_error(cms, keys: np.ndarray, counts: np.ndarray) -> tuple[float, bool]:
    """(largest overestimate / (eps*N), any underestimate)."""
    over = cms.query(keys) - counts
    return float(over.max()) / (cms_eps(cms.width) * cms.total), \
        bool((over < 0).any())


WORKLOADS = {w.name: w for w in (BuildUrls, ProbeUrls, SketchUrls)}
