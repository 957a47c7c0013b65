"""Column-function utilities: pretty_cut, bools_to_categorical, text ops."""

import pyspark.sql.functions as F
import pytest

from pandas_plus_spark.functions.binning import pretty_cut, pretty_cut_labels
from pandas_plus_spark.functions.encoding import bools_to_categorical, linear_combination
from pandas_plus_spark.functions import text as tx


class TestPrettyCut:
    def test_labels(self):
        # reference util.py:722-730 label style
        assert pretty_cut_labels([5, 10, 15]) == [" <= 5", "6 - 10", "11 - 15", " > 15"]

    def test_float_labels(self):
        # float data: no left+1, precision from bin decimals (util.py:747-750)
        assert pretty_cut_labels([0.5, 1.25], integer_data=False) == \
            [" <= 0.5", "0.50 - 1.25", " > 1.25"]
        assert pretty_cut_labels([5, 10], integer_data=False) == \
            [" <= 5", "5 - 10", " > 10"]

    def test_binning(self, spark):
        df = spark.createDataFrame([(1.0,), (5.0,), (10.0,), (15.0,), (20.0,), (None,)],
                                   "x double")
        out = df.select(pretty_cut("x", [5, 10, 15]).alias("b")).collect()
        assert [r["b"] for r in out] == [" <= 5", " <= 5", "6 - 10", "11 - 15", " > 15", None]

    def test_binning_float_style(self, spark):
        df = spark.createDataFrame([(7.0,), (30.0,)], "x double")
        out = df.select(pretty_cut("x", [10, 25, 40], integer_data=False).alias("b")).collect()
        assert [r["b"] for r in out] == [" <= 10", "25 - 40"]


class TestEncoding:
    def test_bools_to_categorical(self, spark):
        df = spark.createDataFrame(
            [(True, False, True), (False, False, False), (False, True, True)],
            "A boolean, B boolean, C boolean")
        out = [r["lab"] for r in df.select(
            bools_to_categorical(["A", "B", "C"]).alias("lab")).collect()]
        assert out == ["A & C", "none", "B & C"]

    def test_linear_combination(self, spark):
        df = spark.createDataFrame([(1.0, 10.0), (2.0, 20.0)], "x double, y double")
        out = df.select(linear_combination({"x": 2.0, "y": 0.5}).alias("lc")).collect()
        assert [r["lc"] for r in out] == [7.0, 14.0]


class TestText:
    def test_poly_hash_matches_python(self, spark):
        def py_poly(s):
            acc = 0
            for ch in s:
                acc = (acc * tx.POLY_MUL + ord(ch)) % tx.POLY_MOD
            return acc

        samples = ["hello world", "a", "", "the quick brown fox"]
        df = spark.createDataFrame([(s,) for s in samples], "s string")
        out = [r["h"] for r in df.select(tx.poly_hash("s").alias("h")).collect()]
        assert out == [py_poly(s) for s in samples]

    def test_word_ngrams_short_doc(self, spark):
        df = spark.createDataFrame([("a b",), ("a b c d",)], "s string")
        out = [r["g"] for r in df.select(
            tx.word_ngrams(tx.simple_tokens(F.col("s")), 3).alias("g")).collect()]
        assert out[0] == []
        assert out[1] == ["a b c", "b c d"]

    def test_token_counts(self, spark):
        df = spark.createDataFrame([("one two  three",), ("a-b c2c!",)], "s string")
        rows = df.select(
            tx.token_count("s").alias("n"),
            tx.bpe_ish_token_count("s").alias("b")).collect()
        assert rows[0]["n"] == 3
        # 'a-b c2c!' → a, -, b, c, 2, c, ! = 7 bpe-ish tokens
        assert rows[1]["b"] == 7

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [("the cat and the dog of it",), ("el que de la y un",), ("zzz qqq",)],
            "s string")
        out = [r["l"] for r in df.select(
            tx.lang_id(tx.simple_tokens(F.col("s"))).alias("l")).collect()]
        assert out == ["en", "es", "und"]

    def test_quality_score_range(self, tables):
        rows = tables["documents"].select(
            tx.quality_score("text").alias("q")).collect()
        assert all(0.0 <= r["q"] <= 1.0 for r in rows)


class TestQcut:
    def test_matches_pandas(self, spark):
        import pandas as pd
        import numpy as np
        from pandas_plus_spark.functions import qcut
        rng = np.random.default_rng(9)
        pdf = pd.DataFrame({"id": np.arange(400),
                            "v": rng.integers(0, 1000, 400).astype("float64")})
        pdf.loc[5, "v"] = None
        sdf = spark.createDataFrame(pdf)
        got = {r.id: r.v_qbin for r in qcut(sdf, "v", q=4).collect()}
        want = pd.qcut(pdf.v, 4, labels=False, duplicates="drop")
        for i in pdf.id:
            if got[i] is None:
                assert pd.isna(want[i])
            else:
                assert got[i] == want[i], i

    def test_duplicate_edges_and_validation(self, spark):
        import pytest as _pt
        from pandas_plus_spark.functions import qcut
        # heavy ties: most mass at one value -> duplicate quantile edges
        sdf = spark.createDataFrame(
            [(i, 5.0 if i < 90 else float(i)) for i in range(100)],
            "id int, v double")
        out = qcut(sdf, "v", q=4, output="b")
        assert out.select("b").distinct().count() <= 4  # collapsed bins
        with _pt.raises(ValueError, match="duplicate bin edges"):
            qcut(sdf, "v", q=4, duplicates="raise")
        with _pt.raises(ValueError, match="q must be"):
            qcut(sdf, "v", q=1)

    def test_approx_close_to_exact(self, spark):
        import numpy as np
        import pandas as pd
        from pandas_plus_spark.functions import qcut
        rng = np.random.default_rng(2)
        pdf = pd.DataFrame({"id": np.arange(2000),
                            "v": rng.random(2000)})
        sdf = spark.createDataFrame(pdf)
        exact = {r.id: r.v_qbin for r in qcut(sdf, "v", q=10).collect()}
        approx = {r.id: r.v_qbin for r in
                  qcut(sdf, "v", q=10, approx=True).collect()}
        agree = sum(exact[i] == approx[i] for i in pdf.id) / len(pdf)
        assert agree > 0.98  # sketch boundaries shift a few edge rows only


class TestPivotTable:
    def test_matches_pandas(self, spark):
        import pandas as pd
        from pandas_plus_spark import pivot_table
        pdf = pd.DataFrame({
            "r": ["x", "x", "y", "y", "y"],
            "c": ["a", "b", "a", "a", "b"],
            "v": [1.0, 2.0, 3.0, 5.0, 7.0],
        })
        sdf = spark.createDataFrame(pdf)
        out = pivot_table(sdf, values="v", index="r", columns="c")
        got = {r.r: (r.a, r.b) for r in out.collect()}
        want = pdf.pivot_table(values="v", index="r", columns="c")
        assert got["x"] == (1.0, 2.0)
        assert got["y"] == (want.loc["y", "a"], 7.0)
        # margins ride the same masked-cell aggregation ("All" = unmasked
        # aggregate, "All" row = the empty grouping set)
        m = pivot_table(sdf, values="v", index="r", columns="c",
                        aggfunc="sum", margins=True)
        rows = {r.r: r for r in m.collect()}
        assert rows["All"].All == 18.0


class TestUnicodeNormalize:
    """UAX #15 normalization through the Arrow-batched pandas_udf seam,
    pinned against the stdlib UCD (the driver gate independently checks
    NFC against DuckDB's ICU implementation)."""

    def test_forms_match_stdlib_ucd(self, spark):
        import unicodedata

        import pandas as pd

        from pandas_plus_spark.functions.text import unicode_normalize
        vals = ["Cafe" + chr(0x301),              # combining acute
                chr(0x1100) + chr(0x1161) + chr(0x11A8),  # Hangul jamo
                "o" + chr(0x308) + chr(0x304),    # canonical ordering
                chr(0xFB01) + "ne " + chr(0xFF21),  # fi-ligature + wide A
                None, ""]
        df = spark.createDataFrame(pd.DataFrame({"t": vals}))
        for form in ("NFC", "NFD", "NFKC", "NFKD"):
            got = [r[0] for r in
                   df.select(unicode_normalize("t", form)).collect()]
            want = [None if v is None else unicodedata.normalize(form, v)
                    for v in vals]
            assert got == want, form
        # NFKC folds compatibility forms; NFC must NOT
        nfkc = df.select(unicode_normalize("t", "NFKC")).collect()[3][0]
        nfc = df.select(unicode_normalize("t", "NFC")).collect()[3][0]
        assert nfkc == "fine A" and nfc != "fine A"

    def test_cleanup_options_and_bad_form(self, spark):
        import pandas as pd
        import pytest

        from pandas_plus_spark.functions.text import unicode_normalize
        df = spark.createDataFrame(pd.DataFrame(
            {"t": ["a b\t\tc" + chr(7) + "  d\n\ne "]}))
        got = df.select(unicode_normalize(
            "t", strip_controls=True, collapse_whitespace=True)).collect()
        assert got[0][0] == "a b c d e"
        kept = df.select(unicode_normalize("t", strip_controls=True))
        assert chr(7) not in kept.collect()[0][0]      # bell dropped
        assert "\t" in kept.collect()[0][0]            # tab kept
        with pytest.raises(ValueError):
            unicode_normalize("t", "NFX")


class TestMojibake:
    """Conservative double-encoded-UTF-8 repair: fixes the corruption,
    never touches clean text."""

    def test_repairs_and_preserves(self, spark):
        import pandas as pd

        from pandas_plus_spark.functions.text import fix_mojibake
        clean = ["caf" + chr(233), "it" + chr(8217) + "s",
                 chr(252) + "ber"]
        moji = [c.encode("utf-8").decode("cp1252") for c in clean]
        double = clean[0].encode("utf-8").decode("cp1252") \
            .encode("utf-8").decode("cp1252")
        passthrough = ["plain ascii", chr(233) + "tude", "", None]
        df = spark.createDataFrame(pd.DataFrame(
            {"t": moji + [double] + passthrough}))
        got = [r[0] for r in df.select(fix_mojibake("t")).collect()]
        assert got == clean + [clean[0]] + passthrough
        import pytest
        with pytest.raises(ValueError):
            fix_mojibake("t", max_passes=0)


class TestBpe:
    """Trained byte-level BPE: determinism, merge semantics, lossless
    roundtrip, token counting."""

    def test_training_deterministic_and_sensible(self, spark):
        import pandas as pd

        from pandas_plus_spark.functions.bpe import bpe_vocab, train_bpe
        corpus = ["the cat sat on the mat"] * 30 + ["the dog"] * 20
        df = spark.createDataFrame(pd.DataFrame({"text": corpus}))
        m1 = train_bpe(df, vocab_size=280)
        m2 = train_bpe(df, vocab_size=280)
        assert m1 == m2 and len(m1) > 0          # reproducible
        toks = [t.decode() for t in bpe_vocab(m1)[256:]]
        assert "the" in toks                     # dominant word merged
        import pytest
        with pytest.raises(ValueError):
            train_bpe(df, vocab_size=256)

    def test_roundtrip_lossless_any_input(self, spark):
        import pandas as pd

        from pandas_plus_spark.functions.bpe import (bpe_decode,
                                                     bpe_encode,
                                                     train_bpe)
        train = spark.createDataFrame(pd.DataFrame(
            {"text": ["english text with words"] * 10}))
        merges = train_bpe(train, vocab_size=300)
        hard = ["h\u00e9llo w\u00f6rld \uac01",   # accents + Hangul
                "tabs\t and\n\nnewlines  ",
                "digits 12345 mix3d",
                "\U0001f642 emoji", "", None,
                "unseen ZZZXQJ bytes \u00ff"]
        df = spark.createDataFrame(pd.DataFrame({"t": hard}))
        out = df.select("t", bpe_decode(bpe_encode("t", merges),
                                        merges).alias("rt")).collect()
        for r in out:
            assert r.rt == r.t, (r.t, r.rt)

    def test_distributed_trainer_bit_equal(self, spark):
        # r14: the distributed counting pass + shared greedy loop must
        # reproduce the driver trainer's merge table BIT-EQUAL on the
        # same input (train_bpe's doc cap not binding here)
        import pandas as pd

        from pandas_plus_spark.functions.bpe import (train_bpe,
                                                     train_bpe_distributed)
        corpus = (["the cat sat on the mat"] * 30 + ["the dog"] * 20
                  + ["digits 123 and ümlauts", "", "tabs\tmix"])
        df = spark.createDataFrame(pd.DataFrame({"text": corpus}))
        assert (train_bpe_distributed(df, vocab_size=300)
                == train_bpe(df, vocab_size=300))
        import pytest
        with pytest.raises(ValueError):
            train_bpe_distributed(df, vocab_size=256)

    def test_distributed_trainer_type_cap_deterministic(self, spark):
        # a binding max_word_types cap keeps the top of the Zipf curve
        # by (freq DESC, word) — deterministic, and still reproducible
        import pandas as pd

        from pandas_plus_spark.functions.bpe import train_bpe_distributed
        corpus = ["alpha beta beta gamma gamma gamma"] * 10 + ["zeta"]
        df = (spark.createDataFrame(pd.DataFrame({"text": corpus}))
              .repartition(8))
        m1 = train_bpe_distributed(df, vocab_size=280, max_word_types=3)
        m2 = train_bpe_distributed(df, vocab_size=280, max_word_types=3)
        assert m1 == m2 and len(m1) > 0
        # 'gamma' (freq 30) must dominate the capped table's merges
        from pandas_plus_spark.functions.bpe import bpe_vocab
        toks = [t.decode() for t in bpe_vocab(m1)[256:]]
        assert "gamma" in toks

    def test_incremental_loop_bit_equal_to_rescan(self):
        # r15: _greedy_merges maintains pair counts incrementally with a
        # lazy heap; its merge table must be BIT-EQUAL to the O(merges ×
        # types) full-rescan loop it replaced (same (-count, pair) total
        # order, same <2 / empty stop), including overlap counting
        # ((a,a,a) contributes 2 to (a,a)) and tie-breaks. Randomized
        # word-type maps + crafted overlap/tie cases.
        import random
        from collections import Counter

        from pandas_plus_spark.functions.bpe import _greedy_merges

        def rescan(word_freq, vocab_size):
            seqs = {w: tuple(bytes([b]) for b in w.encode("utf-8"))
                    for w in word_freq}
            merges = []
            for _ in range(vocab_size - 256):
                pair_counts = Counter()
                for w, seq in seqs.items():
                    f = word_freq[w]
                    for a, b in zip(seq, seq[1:]):
                        pair_counts[(a, b)] += f
                if not pair_counts:
                    break
                best = min(pair_counts.items(),
                           key=lambda kv: (-kv[1], kv[0]))
                if best[1] < 2:
                    break
                pa, pb = best[0]
                merged = pa + pb
                merges.append((pa, pb))
                for w, seq in list(seqs.items()):
                    out, i = [], 0
                    while i < len(seq):
                        if (i + 1 < len(seq) and seq[i] == pa
                                and seq[i + 1] == pb):
                            out.append(merged)
                            i += 2
                        else:
                            out.append(seq[i])
                            i += 1
                    seqs[w] = tuple(out)
            return merges

        cases = [
            {"aaaa": 3, "aa": 5, "a": 9},            # overlap counting
            {"abab": 4, "ab": 4, "ba": 4},           # exact ties
            {"the": 30, "cat": 30, "hat": 30},       # 3-way tie chain
            {"x": 1},                                # no pairs at all
            {"xy": 1},                               # best count < 2
        ]
        rng = random.Random(99)
        for _ in range(6):
            n = rng.randint(5, 40)
            words = {}
            for _ in range(n):
                w = "".join(rng.choice("abcdeé ß")
                            for _ in range(rng.randint(1, 8)))
                words[w] = rng.randint(1, 50)
            cases.append(words)
        for case in cases:
            for vs in (258, 270, 320):
                assert _greedy_merges(dict(case), vs) == rescan(
                    dict(case), vs), (case, vs)

    def test_token_count_and_compression(self, spark):
        import pandas as pd

        from pandas_plus_spark.functions.bpe import (bpe_token_count,
                                                     train_bpe)
        corpus = ["repeat repeat repeat repeat"] * 50
        df = spark.createDataFrame(pd.DataFrame({"text": corpus}))
        merges = train_bpe(df, vocab_size=300)
        n = df.select(bpe_token_count("text", merges)).first()[0]
        raw_bytes = len(corpus[0].encode())
        assert 0 < n < raw_bytes                 # merges compress
        # the fully-merged dominant word should be very few tokens
        one = spark.createDataFrame(pd.DataFrame({"text": ["repeat"]}))
        assert one.select(bpe_token_count("text", merges)).first()[0] <= 2


class TestCompressionRatio:
    def test_repetition_compresses_below_prose(self, spark):
        import pandas as pd

        from pandas_plus_spark.functions.text import compression_ratio
        import random
        rng = random.Random(7)
        prose = " ".join("".join(rng.choice("abcdefghijklmnop")
                                 for _ in range(rng.randint(3, 9)))
                         for _ in range(200))
        spam = "buy now " * 200
        df = spark.createDataFrame(pd.DataFrame(
            {"t": [prose, spam, None, ""]}))
        got = [r[0] for r in df.select(compression_ratio("t")).collect()]
        assert got[0] > 2 * got[1]               # spam compresses hard
        assert got[2] is None and got[3] is None
        assert 0 < got[1] < got[0] <= 1.2
