"""The benchmark's workloads: inputs, queries and output checks.

A workload builds its inputs into a run-private directory, names the
queries one pass runs, and checks the answers of its warm-up pass:
exact answers against DuckDB (row count + order-insensitive hash),
sampled answers by their relative L1 error against the same run's exact
answers. Table data is generated with a fixed generator seed, so every
run sees the same inputs; the run seed only orders the passes and seeds
the samples the benchmark composes itself.
"""

from __future__ import annotations

import hashlib
import math
import os
import shutil
import sys
from dataclasses import dataclass
from typing import Callable

import gen

# the generator seed of every table (the run seed never changes the data)
DATA_SEED = 20260

# interactive_mix: catalog queries at a small scale factor, where plan
# build and per-job overhead dominate (exact = value-oracled, sampled =
# tagged "sampled" in the catalog)
MIX_SF = 0.01
MIX_EXACT = ("word_count", "tpch_q1", "heavy_hitter_tokens")
MIX_SAMPLED = ("word_count_sampled", "approx_sum_ci_families")
# sampled catalog query -> (its exact twin, group key, estimate column)
MIX_TWINS = {"word_count_sampled": ("word_count", "word", "est_cnt")}

# flagship_scale: the reference's flagship workloads on key-offset
# replicas, plus a byte-skip rung over the same corpus text
FLAG_DOCS = 4_000  # base corpus documents (wide Zipf vocabulary)
FLAG_EVENTS_SF = 0.01  # base events table (10k rows)
FLAG_COPIES = 2
FLAG_RATIO = 0.1  # row-sampled scans: word count by RNG pick, host count by hash pick
SKIP_RATIO = 0.25  # byte-skip rung and pickers: block pick ratio
SKIP_UNIT_BYTES = 16 * 1024  # bz2 range / zstd frame / bgzf block size
TEXT_PARTS = 4


@dataclass
class Query:
    name: str
    kind: str  # "exact" or "sampled"
    build: Callable[[], object]  # () -> pyspark DataFrame


def normalize(pdf):
    """Order-insensitive canonical form: columns by name, values as
    text, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if "datetime" in str(pdf[c].dtype):
            pdf[c] = pdf[c].astype("datetime64[us]").astype(str)
        else:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def answer_hash(pdf) -> str:
    n = normalize(pdf)
    h = hashlib.sha256("|".join(n.columns).encode())
    for row in n.itertuples(index=False):
        h.update(("\x1f".join(row) + "\n").encode())
    return h.hexdigest()


def rel_l1(exact: dict, est: dict) -> float:
    """sum_k |est_k - exact_k| / sum_k exact_k; a key missing on either
    side counts as 0 there (the reference comparator's rule)."""
    keys = set(exact) | set(est)
    err = sum(abs(float(est.get(k, 0.0)) - float(exact.get(k, 0.0))) for k in keys)
    return err / sum(float(v) for v in exact.values())


def _series(pdf, key: str, col: str) -> dict:
    return dict(zip(pdf[key], pdf[col]))


def _sampled_err(name: str, truth, key: str, pdf) -> float | None:
    """Relative L1 error of a sampled answer (``key``, ``est_cnt``)
    against an exact one (``key``, ``cnt``); None unless the answer is
    non-empty, finite and keyed within the exact answer."""
    exact = _series(truth, key, "cnt")
    est = _series(pdf, key, "est_cnt") if pdf is not None else {}
    if not est or not set(est) <= set(exact) or not all(map(math.isfinite, est.values())):
        return None
    err = rel_l1(exact, est)
    print(f"rel_l1 {name}: {err:.4f}", file=sys.stderr)
    return err


def _words(df, col: str):
    from random_sampling_based_approximate_mapreduce_spark.functions import text as T

    return T.explode_words(T.drop_digit_lines(df, col), col)


def _duckdb(tables_dir: str, names):
    import duckdb

    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con


def _text_parts(texts: list[str], out: str) -> str:
    """The corpus as ``TEXT_PARTS`` plain-text files of consecutive
    documents, one document per line."""
    os.makedirs(out)
    step = -(-len(texts) // TEXT_PARTS)
    for i in range(TEXT_PARTS):
        with open(os.path.join(out, f"part-{i:05d}.txt"), "w") as fh:
            fh.writelines(t + "\n" for t in texts[i * step : (i + 1) * step])
    return out


def _bzip2_parts(src: str, out: str) -> str:
    """Each text part as a .bz2 with 100 kB blocks (level 1)."""
    import bz2

    os.makedirs(out)
    for f in sorted(os.listdir(src)):
        with open(os.path.join(src, f), "rb") as fi, bz2.open(
            os.path.join(out, f + ".bz2"), "wb", compresslevel=1
        ) as fo:
            shutil.copyfileobj(fi, fo)
    return out


class Workload:
    """Base: ``generate`` writes the parquet inputs, ``derive`` builds
    Spark-side layouts from them, ``queries`` lists one pass, ``check``
    grades the warm-up answers."""

    name = ""

    def __init__(self, spark, run_dir: str, seed: int):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed

    def generate(self, out: str) -> None:
        raise NotImplementedError

    def derive(self, base: str) -> None:
        """Spark-side inputs built from the generated tables."""

    def queries(self) -> list[Query]:
        raise NotImplementedError

    def check(self, answers: dict) -> tuple[list[str], float]:
        """-> (names of queries whose answer is wrong, rel_err)."""
        raise NotImplementedError

    def prefix_tasks(self) -> list[dict]:
        """Nested prefix pipelines for the traced run (see layers.py)."""
        raise NotImplementedError

    def byteskip_rungs(self) -> list[dict]:
        return []

    def skip_rung(self) -> Query | None:
        """The byte-skip read the traced run times once (see run.py)."""
        return None


class InteractiveMix(Workload):
    name = "interactive_mix"

    def generate(self, out: str) -> None:
        gen.write(out, gen.tables(DATA_SEED, MIX_SF))

    def derive(self, base: str) -> None:
        self.base = base

    def queries(self) -> list[Query]:
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        def catalog(name, kind):
            return Query(name, kind, lambda: QUERIES[name].spark(self.spark, self.base))

        return [catalog(n, "exact") for n in MIX_EXACT] + [
            catalog(n, "sampled") for n in MIX_SAMPLED
        ]

    def check(self, answers: dict) -> tuple[list[str], float]:
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import TABLES

        con = _duckdb(self.base, TABLES)
        oracles = {n: QUERIES[n].oracle for n in MIX_EXACT + MIX_SAMPLED if QUERIES[n].oracle}
        bad = []
        for name, sql in oracles.items():
            got = answers.get(name)
            want = con.execute(sql).fetchdf()
            if got is None or len(got) != len(want) or answer_hash(got) != answer_hash(want):
                bad.append(name)
        for name, pdf in answers.items():
            if name not in oracles and (pdf is None or len(pdf) == 0):
                bad.append(name)
        errs = []
        for s, (e, key, col) in MIX_TWINS.items():
            if answers.get(s) is not None and answers.get(e) is not None:
                errs.append(
                    rel_l1(_series(answers[e], key, "cnt"), _series(answers[s], key, col))
                )
                print(f"rel_l1 {s}: {errs[-1]:.4f}", file=sys.stderr)
        return bad, sum(errs) / len(errs) if errs else math.nan

    def prefix_tasks(self) -> list[dict]:
        from layers import flagship_prefixes

        return flagship_prefixes(self.spark, self.base, self.base, ratio=0.1, seed=42)


class FlagshipScale(Workload):
    name = "flagship_scale"

    def generate(self, out: str) -> None:
        docs = gen.corpus_documents(DATA_SEED, FLAG_DOCS)
        gen.write(out, {"documents": docs})
        gen.write(out, gen.tables(DATA_SEED, FLAG_EVENTS_SF, names=("events",)))
        _text_parts(docs.column("text").to_pylist(), os.path.join(out, "text"))

    def derive(self, base: str) -> None:
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import (
            convert_text_to_bgzf,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.scale_up import (
            ensure_scaled_tables,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            convert_text_to_seekable,
        )

        spark, rd = self.spark, self.run_dir
        self.base = base
        self.replica = ensure_scaled_tables(
            spark, base, ("documents", "events"), copies=FLAG_COPIES, cache_root=rd
        )
        # byte-skip layouts of the base corpus text; relative paths, so
        # the seeded block picks (keyed on the file path) repeat in any
        # checkout. The zstd rung runs in the pass; the bzip2 and BGZF
        # layouts feed only the pickers' facts (byteskip_rungs)
        plain = os.path.join(base, "text")
        self.bz2 = _bzip2_parts(plain, os.path.join(rd, "text_bz2"))
        self.zst = os.path.join(rd, "text_zst")
        convert_text_to_seekable(plain, self.zst, frame_bytes=SKIP_UNIT_BYTES)
        self.bgzf = os.path.join(rd, "text_bgzf")
        convert_text_to_bgzf(plain, self.bgzf, block_bytes=SKIP_UNIT_BYTES)

    def queries(self) -> list[Query]:
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.sampling.config import (
            SamplingConfig,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.deterministic import (
            hash_bernoulli,
        )
        from random_sampling_based_approximate_mapreduce_spark.sampling.sampled_frame import (
            SampledFrame,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources import apache_log as AL
        from random_sampling_based_approximate_mapreduce_spark.sources.tables import load

        spark, s = self.spark, self.seed

        def words(df):
            return _words(df, "text")

        def count(df, key):
            return df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))

        def docs():
            return load(spark, self.replica, "documents")

        def events():
            return load(spark, self.replica, "events")

        r = FLAG_RATIO

        def wc_rng():
            sf = SampledFrame.from_dataframe(docs(), SamplingConfig(ratio=r, seed=s), observe=False)
            return sf.transform(words).approx_count("word", alias="est_cnt")

        def lh_hash():
            e = events().withColumn("__k", F.col("event_id").cast("string"))
            c = AL.task_host(AL.access_log(hash_bernoulli(e, "__k", r, seed=s).drop("__k")))
            return c.select("host", (F.col("cnt") / F.lit(r)).alias("est_cnt"))

        return [
            Query("wc_exact", "exact", lambda: count(words(docs().select("text")), "word")),
            Query("lh_exact", "exact", lambda: AL.task_host(AL.access_log(events()))),
            Query(f"wc_rng_{r}", "sampled", wc_rng),
            Query(f"lh_hash_{r}", "sampled", lh_hash),
        ]

    def _truth(self) -> dict:
        """Exact answers from DuckDB: catalog oracle SQL on the base
        tables, scaled by the replica's copy count; ``text_words`` is the
        unscaled word count the byte-skip rung estimates."""
        from random_sampling_based_approximate_mapreduce_spark.plans.catalog import QUERIES

        con = _duckdb(self.base, ("documents", "events"))
        wc = con.execute(QUERIES["word_count"].oracle).fetchdf()
        lh = con.execute(QUERIES["log_host"].oracle).fetchdf()
        scaled = {}
        for name, pdf, k in (
            ("wc_exact", wc, FLAG_COPIES),
            ("lh_exact", lh, FLAG_COPIES),
            ("text_words", wc, 1),
        ):
            pdf = pdf.copy()
            pdf["cnt"] = pdf["cnt"] * k
            scaled[name] = pdf
        return scaled

    def check(self, answers: dict) -> tuple[list[str], float]:
        """Exact answers must match DuckDB; sampled answers must be
        non-empty, finite and keyed within the exact answer. rel_err is
        the mean over the sampled answers."""
        truth = self._truth()
        bad, errs = [], []
        for name, pdf in answers.items():
            if name in truth:
                want = truth[name]
                if pdf is None or len(pdf) != len(want) or answer_hash(pdf) != answer_hash(want):
                    bad.append(name)
                continue
            ref, key = {"lh": ("lh_exact", "host"), "wc": ("wc_exact", "word")}[name[:2]]
            err = _sampled_err(name, truth[ref], key, pdf)
            if err is None:
                bad.append(name)
            else:
                errs.append(err)
        return bad, sum(errs) / len(errs) if errs else math.nan

    def skip_error(self, pdf) -> float | None:
        """Relative L1 error of the byte-skip rung's answer against the
        base corpus word count; None when the answer is malformed."""
        return _sampled_err("zstd_sampled", self._truth()["text_words"], "word", pdf)

    def prefix_tasks(self) -> list[dict]:
        from layers import flagship_prefixes

        return flagship_prefixes(self.spark, self.replica, self.replica, ratio=0.1, seed=self.seed)

    def skip_rung(self) -> Query:
        """Seekable-zstd frame sampling at ``SKIP_RATIO``: the Python
        DataSource and Arrow worker path."""
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            read_text_zstd_sampled,
        )

        def build():
            sf = read_text_zstd_sampled(self.spark, self.zst, SKIP_RATIO, seed=self.seed)
            words = sf.transform(lambda df: _words(df, "value"))
            return words.approx_count("word", alias="est_cnt")

        return Query("zstd_sampled", "sampled", build)

    def byteskip_rungs(self) -> list[dict]:
        from random_sampling_based_approximate_mapreduce_spark.sources.bgzf_text import pick_blocks
        from random_sampling_based_approximate_mapreduce_spark.sources.bzip2_block_text import (
            pick_ranges,
        )
        from random_sampling_based_approximate_mapreduce_spark.sources.zstd_seekable_text import (
            pick_frames,
        )

        r, s = SKIP_RATIO, self.seed
        return [
            {"ratio": r, "pick": lambda: pick_ranges(self.bz2, r, SKIP_UNIT_BYTES, s)},
            {"ratio": r, "pick": lambda: pick_frames(self.zst, r, s)},
            {"ratio": r, "pick": lambda: pick_blocks(self.bgzf, r, s)},
        ]


WORKLOADS = {w.name: w for w in (InteractiveMix, FlagshipScale)}
