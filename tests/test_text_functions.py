"""Direct coverage of text/hashing utility functions."""

import pytest
from pyspark.sql import functions as F

from random_sampling_based_approximate_mapreduce_spark.functions import text as T
from random_sampling_based_approximate_mapreduce_spark.functions.hashing import minhash_signature


class TestCharNgrams:
    def test_distinct_trigrams(self, spark):
        df = spark.createDataFrame([("abcabc",)], ["s"])
        out = df.select(T.char_ngrams(F.col("s"), 3).alias("g")).collect()[0]["g"]
        assert sorted(out) == ["abc", "bca", "cab"]

    def test_short_string_yields_empty(self, spark):
        df = spark.createDataFrame([("ab",)], ["s"])
        out = df.select(T.char_ngrams(F.col("s"), 3).alias("g")).collect()[0]["g"]
        assert out == []


class TestMinhashForms:
    def test_column_form_equals_grouped_form(self, spark):
        """The one-shot Column minhash_signature (slow path, per-row) and the
        explode+groupBy minhash_signatures (plan-optimized) must produce the
        SAME signatures — same hash family, different plan shape."""
        from random_sampling_based_approximate_mapreduce_spark.operators.dedup import (
            NUM_HASHES,
            SHINGLE_K,
            minhash_signatures,
        )

        rows = [
            (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
            (1, "completely different words describing spark engines and distributed plans"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        grouped = {r["doc_id"]: r["sig"] for r in minhash_signatures(docs).collect()}
        oneshot = {
            r["doc_id"]: r["sig"]
            for r in docs.select(
                "doc_id",
                minhash_signature(T.word_shingles(F.col("text"), SHINGLE_K), NUM_HASHES).alias("sig"),
            ).collect()
        }
        assert grouped == oneshot


class TestNormalizeLineP1:
    """P1 parity (RandomizedWordCount.java:41-53): lowercase, repair bare
    '%' -> '%25' and '+' -> '%2B', then URL-decode. The testdata corpus has
    no percent-escapes, so the oracle-checked word_count_reference_delims
    covers only the no-op path; this test pins the decode semantics."""

    def test_crafted_escapes(self, spark):
        cases = [
            ("Hello%20World", "hello world"),   # valid escape decodes
            ("a%2Bb", "a+b"),                    # pre-escaped plus survives
            ("50% off", "50% off"),              # bare % repaired, round-trips
            ("1+1", "1+1"),                      # raw + repaired, round-trips
            ("%", "%"),                          # trailing bare %
            ("A%3d%3Db", "a==b"),                # mixed-case hex digits
        ]
        from random_sampling_based_approximate_mapreduce_spark.functions.text import (
            normalize_line,
        )

        df = spark.createDataFrame([(s,) for s, _ in cases], "value string")
        got = [r[0] for r in df.select(normalize_line(F.col("value"))).collect()]
        assert got == [want for _, want in cases]

    def test_reference_tokenizer_delimiters(self, spark):
        """Every character in the reference's delimiter set splits; tokens
        keep nothing but the characters between delimiters."""
        from random_sampling_based_approximate_mapreduce_spark.functions import text as T

        line = 'foo\tbar"baz<qux>a/b%c?d@e~f`g^h”i!j#k$l&m,n.o\'p(q)r:s*t[u]v{w}x=y;z_aa|bb-cc dd'
        df = spark.createDataFrame([(line,)], "value string")
        toks = [r[0] for r in T.explode_words_reference(df, "value").collect()]
        assert toks == [
            "foo", "bar", "baz", "qux", "a", "b", "c", "d", "e", "f", "g", "h",
            "i", "j", "k", "l", "m", "n", "o", "p", "q", "r", "s", "t", "u",
            "v", "w", "x", "y", "z", "aa", "bb", "cc", "dd",
        ]


class TestRunFormEqualsSplitForm:
    """The tokenizer and the dedup normalizer match the runs of the class
    to keep; the forms they replaced split on, or delete, its negation.
    Both must give the same answer on every string."""

    OLD_SPLIT = "[^a-z0-9']+"
    OLD_STRIP = r"[^a-z0-9\s]"

    @staticmethod
    def _strings():
        import random

        fixed = [
            "", None, " ,;-- ", "\t\n", ",leading and trailing,", "  both  ",
            "'", "'''", "it's o'clock ''quoted''", "123 4567 a1b2 007 '9'",
            "HELLO World MiXeD", "İstanbul", "straße", "ΩMEGA ωmega", "emoji😀inside 😀",
            "non\u00a0breaking\u00a0space", "a\tb", "a\nb", "a\x0bb", "a\fb", "a\rb",
            "\t\n\x0b\f\r",
        ]
        alphabet = list("abzAZ09' \u00a0,.-_\t\n\x0b\f\r") + ["İ", "ß", "Ω", "é", "\u0301", "\u00a0", "😀"]
        rnd = random.Random(20211)
        fuzz = ["".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 200))) for _ in range(200)]
        return fixed + fuzz

    def test_arrays_and_fingerprints(self, spark):
        from random_sampling_based_approximate_mapreduce_spark.functions.hashing import hash64

        strings = self._strings()
        df = spark.createDataFrame(list(enumerate(strings)), "id int, s string")
        s = F.col("s")
        old_toks = F.filter(F.split(F.lower(s), self.OLD_SPLIT), lambda t: F.length(t) > 0)
        old_norm = F.trim(F.regexp_replace(F.regexp_replace(F.lower(s), self.OLD_STRIP, ""), r"\s+", " "))
        rows = df.select(
            "id",
            T.words("s").alias("words"),
            T.word_tokens(s).alias("word_tokens"),
            old_toks.alias("old_toks"),
            T.fingerprint(s).alias("fp"),
            hash64(old_norm).alias("old_fp"),
            T.prefix_fingerprint(s).alias("pfp"),
            hash64(F.substring(old_norm, 1, 120)).alias("old_pfp"),
            T.prefix_fingerprint(s, 5).alias("pfp5"),
            hash64(F.substring(old_norm, 1, 5)).alias("old_pfp5"),
        ).collect()
        assert len(rows) == len(strings)
        for r in rows:
            case = repr(strings[r["id"]])
            assert r["words"] == r["old_toks"], case
            assert r["word_tokens"] == r["old_toks"], case
            assert (r["fp"], r["pfp"], r["pfp5"]) == (r["old_fp"], r["old_pfp"], r["old_pfp5"]), case
        by_id = {r["id"]: r for r in rows}
        assert by_id[1]["words"] is None and by_id[1]["fp"] is None
        assert by_id[0]["words"] == [] and by_id[2]["words"] == []
        assert by_id[9]["words"] == ["123", "4567", "a1b2", "007", "'9'"]

    def test_explode_words(self, spark):
        from collections import Counter

        df = spark.createDataFrame([(x,) for x in self._strings()], "s string")
        old = (
            df.select(F.explode_outer(F.split(F.lower("s"), self.OLD_SPLIT)).alias("word"))
            .where(F.length("word") > 0)
            .where(~F.col("word").rlike("^[0-9]+$"))
        )
        got = Counter(r[0] for r in T.explode_words(df, "s").collect())
        assert got == Counter(r[0] for r in old.collect())
        assert got["it's"] == 1 and got["'''"] == 1 and "123" not in got


class TestZOrder:
    def test_zvalue_matches_reference_bit_interleave(self, spark):
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.functions.zorder import z_value

        def ref(a, b, bits=16):
            z = 0
            for i in range(bits):
                z |= ((a >> i) & 1) << (2 * i)
                z |= ((b >> i) & 1) << (2 * i + 1)
            return z

        rows = [(a, b) for a in (0, 1, 5, 255, 65535) for b in (0, 3, 128, 65535)]
        df = spark.createDataFrame(rows, ["a", "b"])
        got = df.select("a", "b", z_value(F.col("a"), F.col("b"), 16).alias("z")).collect()
        for r in got:
            assert r["z"] == ref(r["a"], r["b"]), (r["a"], r["b"])

    def test_zvalue_locality(self, spark):
        # nearby (a, b) points share high-order z bits: both dims bounded
        # inside a bucket — the property that makes min/max pruning work
        from pyspark.sql import functions as F

        from random_sampling_based_approximate_mapreduce_spark.functions.zorder import z_value

        df = spark.range(0, 4096).select(
            (F.col("id") % 64).alias("a"), (F.col("id") / 64).cast("long").alias("b")
        )
        out = (
            df.withColumn("z", z_value(F.col("a"), F.col("b"), 16))
            .groupBy(F.shiftright("z", 6).alias("bucket"))
            .agg(
                (F.max("a") - F.min("a")).alias("spread_a"),
                (F.max("b") - F.min("b")).alias("spread_b"),
            )
            .collect()
        )
        # each 64-point z-bucket spans at most 8 in each dimension
        assert all(r["spread_a"] <= 8 and r["spread_b"] <= 8 for r in out)
