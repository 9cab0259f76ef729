"""Training-data pipeline ops: dedup / chunking / encoding / textstats /
sampling."""

import pytest
from pyspark.sql import functions as F

from bayard_spark.functions import chunking, dedup, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


class TestDedup:
    def test_exact_duplicates(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "x y"), (4, "a b c")],
            "doc_id long, text string",
        )
        groups = dedup.exact_duplicates(df, ["text"]).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g["n_dups"] == 3 and g["keep_id"] == 1
        assert g["member_ids"] == [1, 2, 4]
        kept = dedup.dedupe_exact(df, ["text"]).select("doc_id").collect()
        assert sorted(r["doc_id"] for r in kept) == [1, 3]

    def test_minhash_finds_near_dups(self, spark):
        base = (
            "the quick brown fox jumps over the lazy dog and runs far away "
            "into the deep green forest tonight"
        )
        near = base.replace("green", "dark")
        other = "completely different words about spark sql engines and joins"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, other), (4, base)],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_dedup_pairs(
            df, num_hashes=32, bands=8, threshold=0.5
        ).collect()
        found = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (1, 4) in found  # identical
        assert (1, 2) in found or (2, 4) in found  # near-dup
        assert not any(3 in p for p in found)

    def test_jaccard_pairs_exact_values(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e"), (3, "q w e r t")],
            "doc_id long, text string",
        )
        pairs = dedup.ngram_jaccard_pairs(df, k=3, threshold=0.9).collect()
        assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [
            (1, 2, 1.0)
        ]

    def test_simhash_identical_and_near(self, spark):
        df = spark.createDataFrame(
            [
                (1, "spark sql shuffle join optimizer predicate pushdown"),
                (2, "spark sql shuffle join optimizer predicate pushdown"),
                (3, "spark sql shuffle join optimizer predicate pruning"),
                (4, "cats sleep warm quiet round corners every evening"),
            ],
            "doc_id long, text string",
        )
        sigs = dedup.simhash(df)
        by_id = {r["id"]: r["simhash"] for r in sigs.collect()}
        assert by_id[1] == by_id[2]
        ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
        # near texts are closer in hamming space than unrelated texts
        assert ham(by_id[1], by_id[3]) < ham(by_id[1], by_id[4])

    def test_simhash_banding_recall_guarantee(self, spark):
        # pigeonhole: any pair with hamming <= 3 must share one 16-bit
        # quarter exactly, so banding recall is 100% there
        base = 0x0123_4567_89AB_CDEF
        sigs = spark.createDataFrame(
            [
                (1, base),
                (2, base ^ 0b111),            # hamming 3 → must be found
                (3, base ^ ((1 << 0) | (1 << 17) | (1 << 33) | (1 << 49))),
                # ^ hamming 4 spread over all quarters → legitimately missed
            ],
            "id long, simhash long",
        )
        pairs = dedup.simhash_near_pairs(sigs, max_hamming=3).collect()
        found = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
        assert found == {(1, 2): 3}

    def test_real_corpus_runs(self, docs):
        out = dedup.minhash_dedup_pairs(
            docs.limit(100), num_hashes=16, bands=4, threshold=0.9
        )
        out.count()  # no crash; synthetic corpus has near-dups by vocab reuse


def _uf_clusters(pairs):
    """Union-find reference: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


class TestConnectedComponents:
    def _run(self, spark, edge_list):
        df = spark.createDataFrame(edge_list, "id_a long, id_b long")
        out = dedup.connected_components(df).collect()
        return {r["id"]: r["cluster_id"] for r in out}

    def test_chain_deep_graph(self, spark):
        # 200-node path: label propagation would need 200 rounds; the
        # star algorithm must resolve it within the max_iters bound
        edges = [(i, i + 1) for i in range(200)]
        got = self._run(spark, edges)
        assert got == {i: 0 for i in range(201)}

    def test_random_graph_matches_union_find(self, spark):
        import random

        rng = random.Random(6)
        edges = [
            (rng.randrange(120), rng.randrange(120)) for _ in range(90)
        ]
        edges = [e for e in edges if e[0] != e[1]]
        got = self._run(spark, edges)
        assert got == _uf_clusters(edges)

    def test_two_components_and_reversed_dup_pairs(self, spark):
        edges = [(5, 3), (3, 5), (3, 9), (20, 30), (30, 20), (40, 30)]
        got = self._run(spark, edges)
        assert got == {3: 3, 5: 3, 9: 3, 20: 20, 30: 20, 40: 20}

    def test_empty_and_self_loops_only(self, spark):
        assert self._run(spark, []) == {}
        df = spark.createDataFrame([(7, 7)], "id_a long, id_b long")
        assert dedup.connected_components(df).collect() == []

    def test_string_ids_preserved(self, spark):
        df = spark.createDataFrame(
            [("b", "a"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
        )
        out = {
            r["id"]: r["cluster_id"]
            for r in dedup.connected_components(df).collect()
        }
        assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}

    def test_keep_canonical(self, spark):
        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in range(8)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame(
            [(1, 4), (4, 6), (2, 3)], "id_a long, id_b long"
        )
        out = {
            r["doc_id"]: (r["cluster_id"], r["kept"])
            for r in dedup.dedup_keep_canonical(docs, pairs).collect()
        }
        assert out == {
            0: (0, True), 1: (1, True), 2: (2, True), 3: (2, False),
            4: (1, False), 5: (5, True), 6: (1, False), 7: (7, True),
        }

    def test_composes_with_minhash_pairs(self, spark):
        # planted exact dup groups -> minhash pairs -> clusters: every
        # cluster's members share the planted group key
        rows = [(i, f"w{i % 4} " * 12) for i in range(24)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = dedup.minhash_dedup_pairs(
            df, num_hashes=16, bands=4, threshold=0.9
        ).select("id_a", "id_b")
        out = dedup.dedup_keep_canonical(df, pairs).collect()
        by_doc = {r["doc_id"]: r["cluster_id"] for r in out}
        assert by_doc == {i: i % 4 for i in range(24)}
        kept = sorted(r["doc_id"] for r in out if r["kept"])
        assert kept == [0, 1, 2, 3]


class TestChunking:
    def test_sliding_hand_computed(self, spark):
        text = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = sorted(
            chunking.chunk_tokens_sliding(df, size=4, stride=3).collect(),
            key=lambda r: r["chunk_idx"],
        )
        got = [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in out]
        assert got == [
            (0, "t0 t1 t2 t3", 4),
            (1, "t3 t4 t5 t6", 4),
            (2, "t6 t7 t8 t9", 4),
        ]

    def test_sliding_short_doc_and_empty(self, spark):
        df = spark.createDataFrame(
            [(1, "a b"), (2, "   "), (3, "")], "doc_id long, text string"
        )
        out = chunking.chunk_tokens_sliding(df, size=4, stride=3).collect()
        assert [(r["doc_id"], r["chunk_text"]) for r in out] == [(1, "a b")]

    def test_sliding_disjoint_reconstructs_doc(self, spark):
        text = " ".join(f"w{i}" for i in range(23))
        df = spark.createDataFrame([(7, text)], "doc_id long, text string")
        out = sorted(
            chunking.chunk_tokens_sliding(df, size=5, stride=5).collect(),
            key=lambda r: r["chunk_idx"],
        )
        assert " ".join(r["chunk_text"] for r in out) == text
        assert [r["n_tokens"] for r in out] == [5, 5, 5, 5, 3]

    def test_pack_hand_computed(self, spark):
        paras = ["a b c", "d e", "f g h i", "j", "k l m n o p q r s t u"]
        df = spark.createDataFrame(
            [(1, "\n".join(paras))], "doc_id long, text string"
        )
        out = sorted(
            chunking.pack_paragraphs_greedy(df, budget=6).collect(),
            key=lambda r: r["chunk_idx"],
        )
        got = [
            (r["chunk_idx"], r["chunk_text"], r["n_tokens"], r["n_paras"])
            for r in out
        ]
        # 3+2 fits; +4 would be 9 > 6 -> new chunk; 4+1 fits; 11 > 6 alone
        assert got == [
            (0, "a b c\nd e", 5, 2),
            (1, "f g h i\nj", 5, 2),
            (2, "k l m n o p q r s t u", 11, 1),
        ]

    def test_pack_exact_fit_joins(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c\nd e f")], "doc_id long, text string"
        )
        out = chunking.pack_paragraphs_greedy(df, budget=6).collect()
        assert len(out) == 1 and out[0]["n_tokens"] == 6

    def test_pack_blank_paras_and_null(self, spark):
        df = spark.createDataFrame(
            [(1, "a b\n\n  \nc"), (2, None), (3, "\n \n")],
            "doc_id long, text string",
        )
        out = chunking.pack_paragraphs_greedy(df, budget=10).collect()
        assert [(r["doc_id"], r["chunk_text"], r["n_paras"]) for r in out] == [
            (1, "a b\nc", 2)
        ]

    def test_real_corpus_coverage(self, docs):
        sl = chunking.chunk_tokens_sliding(
            docs.limit(50), size=64, stride=64
        )
        tok_total = sl.agg(F.sum("n_tokens")).collect()[0][0]
        from bayard_spark.functions.textstats import token_counts

        ref = (
            token_counts(docs.limit(50))
            .agg(F.sum("n_ws_tokens"))
            .collect()[0][0]
        )
        assert tok_total == ref


class TestMojibake:
    def _corrupt(self, s):
        return s.encode("utf-8").decode("cp1252")

    def test_roundtrip_common_phrases(self, spark):
        from bayard_spark.functions import encoding

        phrases = [
            'café déjà vu — "naïve" résumé … €42 ™ ñoño',
            "Üben führt zum Ziel, œuvre complète",
            "São Paulo próximo à praça",
        ]
        rows = [(i, self._corrupt(p)) for i, p in enumerate(phrases)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = sorted(
            encoding.fix_mojibake(df).collect(), key=lambda r: r["doc_id"]
        )
        for r, p in zip(out, phrases):
            assert r["text_fixed"] == p
            assert r["was_mojibake"] is True

    def test_every_table_target_roundtrips(self, spark):
        from bayard_spark.functions import encoding

        targets = " ".join(ch for _, ch in encoding.MOJIBAKE_TABLE)
        df = spark.createDataFrame(
            [(1, self._corrupt(targets))], "doc_id long, text string"
        )
        out = encoding.fix_mojibake(df).collect()[0]
        assert out["text_fixed"] == targets

    def test_clean_and_null_text_untouched(self, spark):
        from bayard_spark.functions import encoding

        df = spark.createDataFrame(
            [(1, "plain ascii text"), (2, None), (3, "")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["text_fixed"], r["was_mojibake"])
            for r in encoding.fix_mojibake(df).collect()
        }
        assert out == {
            1: ("plain ascii text", False),
            2: (None, False),
            3: ("", False),
        }

    def test_double_encoding_needs_two_passes(self, spark):
        from bayard_spark.functions import encoding

        s = "héllo wörld"
        twice = self._corrupt(self._corrupt(s))
        df = spark.createDataFrame([(1, twice)], "doc_id long, text string")
        one = encoding.fix_mojibake(df, passes=1).collect()[0]["text_fixed"]
        two = encoding.fix_mojibake(df, passes=2).collect()[0]["text_fixed"]
        assert one == self._corrupt(s) and two == s

    def test_sql_expr_matches_spark(self, spark):
        import duckdb

        from bayard_spark.functions import encoding

        s = 'mixed: café — "x" … €9 plain'
        corrupted = self._corrupt(s).replace("'", "''")
        lit = "'" + corrupted + "'"
        got = duckdb.sql(
            f"SELECT {encoding.repair_sql_expr(lit)} AS t"
        ).fetchone()[0]
        assert got == s


class TestTextstats:
    def test_language_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the cat sat on the mat and it was happy with that"),
                (2, "der hund ist nicht mit der katze und das ist gut"),
                (3, "el perro y el gato en la casa con los niños"),
                (4, "zzz qqq www"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lang_pred"] for r in textstats.language_id(df).collect()}
        assert out == {1: "en", 2: "de", 3: "es", 4: "und"}

    def test_language_id_all_18_profiles(self, spark):
        """Labeled fixture, one sample per Snowball language — 18/18 on
        this fixture (short ambiguous text may still confuse da/no or
        es/pt; the profiles' sibling-language caveat is documented in
        textstats.LANG_PROFILES)."""
        samples = {
            "en": "the cat sat on the mat and it was happy with that for you",
            "de": "der hund ist nicht mit der katze und das ist gut für sie",
            "es": "el perro y el gato en la casa con los niños se ven del parque",
            "fr": "le chien et le chat dans la maison pour les enfants qui sont sur du pain",
            "pt": "o cão não está em casa mas é um para uma pessoa com os outros no jardim",
            "it": "il cane non è per la casa ma che sono con gli amici anche della città",
            "ro": "și câinele este în casă cu pisica pe care nu să o vadă din nou mai mult",
            "nl": "de hond is niet in het huis maar ik denk dat hij een kat van mij ook aan zijn",
            "da": "og hunden er ikke i huset men jeg har set den med han til at være af og var",
            "no": "og hunden er ikke i huset men jeg har sett den med han til å være av igjen",
            "sv": "och hunden är inte i huset men jag har sett den med för att det är på av",
            "fi": "ja koira ei ole talossa mutta se on niin kuin hän oli kun myös tämä että",
            "hu": "az kutya nem van a házban de már csak egy ez is volt még mint hogy és meg",
            "ru": "и собака не в доме но я думаю что он с как это по она к у нам",
            "tr": "bir köpek ve bu ev için çok daha ama gibi her ben ile ne kadar sonra ya",
            "ar": "في البيت من الكلب على أن إلى عن هذا مع كان التي الذي ما لا هو أو",
            "el": "και το σκυλί η γάτα ο άνθρωπος να του της με που την για από τα στο είναι",
            "ta": "ஒரு நாய் மற்றும் என்று இந்த அந்த இது அவர் என உள்ள மிகவும் அது தான் போது வேண்டும் பல",
        }
        assert set(samples) == set(textstats.LANG_PROFILES)
        langs = sorted(samples)
        df = spark.createDataFrame(
            [(i, samples[lang]) for i, lang in enumerate(langs)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r["lang_pred"]
               for r in textstats.language_id(df).collect()}
        got = {lang: out[i] for i, lang in enumerate(langs)}
        assert got == {lang: lang for lang in langs}, got

    def test_quality_features(self, spark):
        df = spark.createDataFrame(
            [(1, "the good text has the usual words in it"),
             (2, "a a a a a a a a"), (3, "")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in textstats.quality_features(df).collect()}
        assert rows[1]["quality_score"] > rows[2]["quality_score"]
        assert rows[2]["distinct_ratio"] == pytest.approx(1 / 8)
        assert rows[3]["n_tokens"] == 0 and rows[3]["quality_score"] == 0.0

    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world, it's 42 degrees!")], "doc_id long, text string"
        )
        r = textstats.token_counts(df).collect()[0]
        assert r["n_ws_tokens"] == 5
        # hello|world|,|it|'|s|42|degrees|! → 9
        assert r["n_bpe_tokens"] == 9

    def test_fingerprint_stability(self, spark):
        base = "one two three four five six seven eight nine ten " * 3
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, "other words entirely here now")],
            "doc_id long, text string",
        )
        fps = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprint(df).collect()}
        assert fps[1] == fps[2] != fps[3]


class TestUnigramLogprob:
    def test_matches_hand_computation(self, spark):
        import math

        from bayard_spark.functions import textstats

        df = spark.createDataFrame(
            [(1, "a a b"), (2, "b c"), (3, "")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["logprob"]
                for r in textstats.unigram_logprob(df).collect()}
        # corpus counts: a=2, b=2, c=1, total=5
        pa_, pb, pc = 2 / 5, 2 / 5, 1 / 5
        assert abs(rows[1] - (2 * math.log(pa_) + math.log(pb)) / 3) < 1e-12
        assert abs(rows[2] - (math.log(pb) + math.log(pc)) / 2) < 1e-12
        # empty doc: no tokens → NULL, not the max-attainable 0.0
        # (ADVICE r4: 0.0 ranked blank pages as highest-quality)
        assert rows[3] is None

    def test_plan_broadcasts_unigram_table(self, spark):
        from bayard_spark.functions import textstats

        df = spark.createDataFrame(
            [(i, "w x y z") for i in range(50)], "doc_id long, text string"
        )
        plan = textstats.unigram_logprob(df)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Broadcast" in plan, "unigram table must broadcast, not shuffle"


class TestRepetitionDecontaminate:
    """Gopher-style repetition stats + benchmark decontamination + the
    short-doc regression (sequence(1,0) is DESCENDING in Spark: docs with
    fewer than k tokens used to crash shingles/fingerprint on
    slice(start=0))."""

    def test_repetition_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                (1, "aa bb aa bb cc"),
                (2, "x y x y x y x y x y"),
                (3, ""),
                (4, "one two"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in textstats.repetition_stats(df).collect()
        }
        # doc1: total 10; top 2-gram "aa bb" x2 * 4 chars = 8 -> 0.8;
        # 3-grams all unique, 6 chars -> 0.6; no dup 5-grams.
        assert out[1]["total_chars"] == 10
        assert out[1]["top2gram_frac"] == pytest.approx(0.8)
        assert out[1]["top3gram_frac"] == pytest.approx(0.6)
        assert out[1]["dup5gram_frac"] == 0.0
        # doc2: pathological repetition — overlapping occurrences
        # multi-count, so top3 ("x y x" x4 * 3) / 10 = 1.2 and dup5
        # ((3+3) * 5) / 10 = 3.0 exceed 1.0 by design.
        assert out[2]["top2gram_frac"] == pytest.approx(1.0)
        assert out[2]["top3gram_frac"] == pytest.approx(1.2)
        assert out[2]["dup5gram_frac"] == pytest.approx(3.0)
        # empty doc: all zeros, no crash
        assert out[3]["total_chars"] == 0
        assert out[3]["top2gram_frac"] == 0.0
        # 2-token doc: its single 2-gram covers every char; no 3/5-grams
        assert out[4]["top2gram_frac"] == pytest.approx(1.0)
        assert out[4]["top3gram_frac"] == 0.0
        assert out[4]["dup5gram_frac"] == 0.0

    def test_decontaminate_hand_computed(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "q w e")], "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(100, "b c d x")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in dedup.decontaminate(docs, bench).collect()
        }
        # doc1 shares the 3-gram "b c d" with the benchmark; doc2 nothing
        assert out == {1: (1, 1), 2: (0, 0)}
        # broadcast-gate branch identity: force the shuffle-join branch
        out2 = {
            r["doc_id"]: (r["n_hits"], r["contaminated"])
            for r in dedup.decontaminate(
                docs, bench, bench_gram_count=10**12
            ).collect()
        }
        assert out2 == out

    def test_short_doc_regression(self, spark):
        df = spark.createDataFrame(
            [(0, "a b"), (1, ""), (2, "x"), (3, "p q r s t")],
            "doc_id long, text string",
        )
        # shingles: only doc3 has >= 3 tokens
        sh = dedup.shingles(df, k=3).collect()
        assert {r["id"] for r in sh} == {3}
        # fingerprint: short docs fingerprint the empty shingle set, no crash
        fps = textstats.fingerprint(df).collect()
        assert len(fps) == 4
        # repetition: 1-token doc has no 2-grams at all
        rep = {r["doc_id"]: r for r in textstats.repetition_stats(df).collect()}
        assert rep[2]["top2gram_frac"] == 0.0 and rep[2]["total_chars"] == 1


class TestGopherPiiParaDedup:
    """Hand-computed expectations for the round-6 corpus-cleaning trio:
    the Gopher line/word rule set, PII redaction, and corpus-level
    duplicate-paragraph removal."""

    def test_gopher_rules_hand_computed(self, spark):
        good = " ".join(
            ["the quick brown fox jumps over that lazy dog with vigor today"]
            * 5
        )
        messy = (
            "- item one\n- item two\nhello world...\n"
            "same line\nsame line\nsame line"
        )
        df = spark.createDataFrame(
            [
                (1, good),
                (2, messy),
                (3, ""),
                (4, "# # # 12 34"),
                (5, "the the the be"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in textstats.gopher_rules(df).collect()}
        g = out[1]
        assert g["n_words"] == 60 and g["n_lines"] == 1
        assert g["mean_word_len"] == pytest.approx(50 / 12, abs=1e-6)
        assert g["alpha_word_ratio"] == 1.0
        assert g["req_stop_hits"] == 3  # the, that, with
        assert g["dup_line_frac"] == 0.0
        assert g["gopher_pass"] is True

        m = out[2]
        assert m["n_lines"] == 6 and m["n_words"] == 12
        assert m["bullet_line_ratio"] == pytest.approx(2 / 6, abs=1e-6)
        assert m["ellipsis_line_ratio"] == pytest.approx(1 / 6, abs=1e-6)
        # "same line" x3: 2 repeats of 6 lines; 2*9 of 61 line chars
        assert m["dup_line_frac"] == pytest.approx(2 / 6, abs=1e-6)
        assert m["dup_line_char_frac"] == pytest.approx(18 / 61, abs=1e-6)
        assert m["symbol_word_ratio"] == pytest.approx(1 / 12, abs=1e-6)
        assert m["mean_word_len"] == pytest.approx(4.0)
        assert m["req_stop_hits"] == 0
        assert m["gopher_pass"] is False

        z = out[3]  # empty doc keeps its row, all zeros
        assert z["n_words"] == 0 and z["n_lines"] == 0
        assert z["gopher_pass"] is False

        s = out[4]  # digits are words but not alphabetic; '#' is a symbol
        assert s["n_words"] == 2
        assert s["alpha_word_ratio"] == 0.0
        assert s["symbol_word_ratio"] == pytest.approx(1.5)

        assert out[5]["req_stop_hits"] == 2  # distinct: the, be

    def test_pii_redact_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                (
                    1,
                    "mail a@b.com or c.d@e-f.org, ip 10.0.0.1 call "
                    "+1 (555) 123-4567 end",
                ),
                (2, "no pii here, just 1.5 numbers and a + sign"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in textstats.pii_redact(df).collect()}
        r = out[1]
        assert r["n_emails"] == 2 and r["n_ipv4"] == 1 and r["n_phones"] == 1
        assert r["text_redacted"] == (
            "mail <EMAIL> or <EMAIL>, ip <IP> call <PHONE> end"
        )
        c = out[2]
        assert (c["n_emails"], c["n_ipv4"], c["n_phones"]) == (0, 0, 0)
        assert c["text_redacted"] == "no pii here, just 1.5 numbers and a + sign"

    def test_paragraph_dedup_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                (1, "A\n\nB\n\nC"),
                (2, "B\n\nD"),
                (3, "B\n\nB"),
                (4, "D"),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df).collect()}
        # corpus counts: A=1 B=4 C=1 D=2 -> B and D removed at max_count=1
        assert out[1]["text_clean"] == "A\n\nC"
        assert (out[1]["n_paras"], out[1]["n_removed"]) == (3, 1)
        assert out[2]["text_clean"] == ""
        assert (out[2]["n_paras"], out[2]["n_removed"]) == (2, 2)
        # a doc whose every paragraph is boilerplate keeps its row
        assert out[3]["text_clean"] == ""
        assert (out[3]["n_paras"], out[3]["n_removed"]) == (2, 2)
        assert out[4]["text_clean"] == ""

        # max_count=2: D (count 2) survives, B (count 4) still goes
        out2 = {
            r["doc_id"]: r
            for r in dedup.paragraph_dedup(df, max_count=2).collect()
        }
        assert out2[2]["text_clean"] == "D"
        assert out2[4]["text_clean"] == "D"
        assert out2[1]["text_clean"] == "A\n\nC"

    def test_span_dedup_hand_computed(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b c d e f"),
                (2, "x a b c d y"),
                (3, "p q r s p q r s"),
                (4, "k   l"),  # short doc: whitespace normalized, kept
                (5, ""),
                (6, None),
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in dedup.span_dedup(df, n=4).collect()}
        # 'a b c d' occurs at (1,0) and (2,1): keep-first -> doc 2 loses
        # tokens 1..4
        assert out[1]["text_clean"] == "a b c d e f"
        assert (out[1]["n_tokens"], out[1]["n_removed"]) == (6, 0)
        assert out[2]["text_clean"] == "x y"
        assert (out[2]["n_tokens"], out[2]["n_removed"]) == (6, 4)
        # internal repeat: 'p q r s' at pos 0 and 4 of the SAME doc
        assert out[3]["text_clean"] == "p q r s"
        assert (out[3]["n_tokens"], out[3]["n_removed"]) == (8, 4)
        assert out[4]["text_clean"] == "k l"
        assert (out[5]["text_clean"], out[5]["n_tokens"]) == ("", 0)
        assert (out[6]["text_clean"], out[6]["n_tokens"]) == ("", 0)

    def test_span_dedup_overlapping_spans_merge(self, spark):
        # 3 repetitions of a 5-token block, n=5: windows at pos 0,5,10
        # share a hash (keep pos 0); every other duplicated window (e.g.
        # pos 1 vs 6) is covered by those marks — maximal span removal.
        rep = "m n o p q"
        df = spark.createDataFrame(
            [(1, " ".join([rep] * 3))], "doc_id long, text string"
        )
        out = dedup.span_dedup(df, n=5).collect()[0]
        assert out["text_clean"] == rep
        assert (out["n_tokens"], out["n_removed"]) == (15, 10)


class TestLinearTextScore:
    """Hand-computed fastText-style hashed linear classifier inference."""

    def test_hand_computed_against_numpy(self, spark):
        import math

        from pyspark.sql import functions as SF

        B = 64
        df = spark.createDataFrame(
            [
                (1, "Good clean text here"),
                (2, "bad"),
                (3, ""),
                (4, None),
            ],
            "doc_id long, text string",
        )
        wrows = [(b, ((b * 37) % 21 - 10) / 10.0) for b in range(B)]
        wts = spark.createDataFrame(wrows, "bucket long, weight double")
        out = {
            r["doc_id"]: r
            for r in textstats.linear_text_score(
                df, wts, num_buckets=B, bias=0.25
            ).collect()
        }

        # replicate: xxhash64 via Spark itself (single-row frames), then
        # the arithmetic in python
        def buckets(feats):
            fdf = spark.createDataFrame([(f,) for f in feats], "feat string")
            return [
                r["b"]
                for r in fdf.select(
                    SF.pmod(SF.xxhash64("feat"), SF.lit(B)).alias("b")
                ).collect()
            ]

        wmap = dict(wrows)
        feats1 = ["good", "clean", "text", "here",
                  "good clean", "clean text", "text here"]
        mean1 = sum(wmap[b] for b in buckets(feats1)) / len(feats1)
        exp1 = 1.0 / (1.0 + math.exp(-(0.25 + mean1)))
        assert out[1]["n_feats"] == 7
        assert out[1]["score"] == pytest.approx(round(exp1, 6), abs=2e-6)

        mean2 = wmap[buckets(["bad"])[0]]
        exp2 = 1.0 / (1.0 + math.exp(-(0.25 + mean2)))
        assert out[2]["n_feats"] == 1
        assert out[2]["score"] == pytest.approx(round(exp2, 6), abs=2e-6)

        # empty / NULL text: no invented 0.5 — NULL score, zero feats
        assert out[3]["n_feats"] == 0 and out[3]["score"] is None
        assert out[4]["n_feats"] == 0 and out[4]["score"] is None

    def test_unseen_buckets_weigh_zero_and_shuffle_branch(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma")], "doc_id long, text string"
        )
        empty_w = spark.createDataFrame([], "bucket long, weight double")
        out = textstats.linear_text_score(
            df, empty_w, num_buckets=16, bigrams=False
        ).collect()[0]
        assert out["n_feats"] == 3
        assert out["score"] == pytest.approx(0.5)  # sigmoid(0)

        old = textstats.CLS_WEIGHTS_BROADCAST_MAX
        try:
            textstats.CLS_WEIGHTS_BROADCAST_MAX = -1
            out2 = textstats.linear_text_score(
                df, empty_w, num_buckets=16, bigrams=False
            ).collect()[0]
        finally:
            textstats.CLS_WEIGHTS_BROADCAST_MAX = old
        assert out2 == out


class TestSampling:
    """Deterministic corpus sampling (functions/sampling.py)."""

    def test_fraction_sample_deterministic_and_proportional(self, spark):
        from bayard_spark.functions import sampling

        df = spark.range(4000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("src"),
        )
        out = sampling.hash_fraction_sample(
            df, "src", {"a": 0.3, "b": 0.9}, seed=5
        )
        rows = out.collect()
        got = {r["doc_id"] for r in rows}
        # partitioning-independent: identical selection after repartition
        got2 = {
            r["doc_id"]
            for r in sampling.hash_fraction_sample(
                df.repartition(13), "src", {"a": 0.3, "b": 0.9}, seed=5
            ).collect()
        }
        assert got == got2
        na = sum(1 for r in rows if r["src"] == "a")
        nb = sum(1 for r in rows if r["src"] == "b")
        assert abs(na / 2000 - 0.3) < 0.05 and abs(nb / 2000 - 0.9) < 0.05
        # different seed -> different draw
        got3 = {
            r["doc_id"]
            for r in sampling.hash_fraction_sample(
                df, "src", {"a": 0.3, "b": 0.9}, seed=6
            ).collect()
        }
        assert got3 != got
        # default_fraction keeps unlisted strata whole
        all_b = sampling.hash_fraction_sample(df, "src", {"a": 0.0}).collect()
        assert all(r["src"] == "b" for r in all_b) and len(all_b) == 2000

    def test_stratified_cap_exact(self, spark):
        from bayard_spark.functions import sampling

        df = spark.range(300).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") < 200, "big").otherwise("small").alias("src"),
        )
        out = sampling.stratified_cap(df, "src", cap=40, seed=3).collect()
        by = {}
        for r in out:
            by.setdefault(r["src"], set()).add(r["doc_id"])
        assert len(by["big"]) == 40 and len(by["small"]) == 40
        # per-stratum dict: missing stratum keeps everything
        out2 = sampling.stratified_cap(df, "src", cap={"big": 25}).collect()
        by2 = {}
        for r in out2:
            by2.setdefault(r["src"], set()).add(r["doc_id"])
        assert len(by2["big"]) == 25 and len(by2["small"]) == 100
        # deterministic under repartition
        out3 = sampling.stratified_cap(
            df.repartition(7), "src", cap=40, seed=3
        ).collect()
        assert {r["doc_id"] for r in out3} == {r["doc_id"] for r in out}


def _uni_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the the the the"),
        (3, "   "),
        (4, ""),
        (5, "zyzzyva qwertyuiop"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_unigram_logprob_null_for_tokenless_docs(spark):
    from bayard_spark.functions.textstats import unigram_logprob

    out = {r["doc_id"]: r["logprob"]
           for r in unigram_logprob(_uni_df(spark)).collect()}
    assert out[3] is None and out[4] is None
    # every real doc scores strictly below the old empty-doc sentinel 0.0
    assert all(v < 0 for k, v in out.items() if v is not None)
    # repetitive high-frequency page ranks above the rare-vocab page
    assert out[2] > out[5]


def test_unigram_broadcast_gate(spark):
    from bayard_spark.functions.textstats import unigram_logprob

    df = _uni_df(spark)
    # r7: the measuring count persists the vocab table, so Catalyst now
    # sees its REAL materialized size and may auto-broadcast a tiny
    # cached vocab even above the explicit gate — which is safe (the
    # decision is from actual bytes, not estimates; a web-scale cached
    # vocab is huge and never auto-broadcasts). The gate governs the
    # FORCED hint, so isolate the hint by disabling auto-broadcast.
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan_small = unigram_logprob(
            df, broadcast_vocab_max=10**9
        )._jdf.queryExecution().executedPlan().toString()
        plan_wide = unigram_logprob(
            df, broadcast_vocab_max=0
        )._jdf.queryExecution().executedPlan().toString()
        # the vocab-table join must LOSE its broadcast above the gate
        assert plan_small.count("BroadcastHashJoin") > plan_wide.count(
            "BroadcastHashJoin"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    a = {(r["doc_id"], r["logprob"])
         for r in unigram_logprob(df, broadcast_vocab_max=10**9).collect()}
    b = {(r["doc_id"], r["logprob"])
         for r in unigram_logprob(df, broadcast_vocab_max=0).collect()}
    assert a == b


def test_unigram_vocab_count_override_skips_measuring(spark, monkeypatch):
    """A caller-supplied vocab_count must be honored (no count() job) and
    steer the branch exactly like a measured one."""
    from pyspark.sql import DataFrame

    from bayard_spark.functions.textstats import unigram_logprob

    df = _uni_df(spark)
    calls = []
    real_count = DataFrame.count

    def spy(self):
        calls.append(1)
        return real_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    plan = unigram_logprob(
        df, vocab_count=10**9
    )._jdf.queryExecution().executedPlan().toString()
    assert calls == [], "vocab_count must skip the measuring pass"
    plan_bc = unigram_logprob(
        df, vocab_count=1
    )._jdf.queryExecution().executedPlan().toString()
    assert plan_bc.count("BroadcastHashJoin") > plan.count(
        "BroadcastHashJoin"
    )


class TestGopherRowLocal:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        rows = [
            (1, "the be to of and that have with " + "alpha beta " * 30),
            (2, "dup line\ndup line\nunique line\n\n  \nthe be to of"),
            (3, None),
            (4, ""),
            (5, "   "),
            (6, "..\n.juxtaposed dots\n# one hash ...\nthe be"),
            (7, "- bullet one\n* bullet two\nends with ...\nthe be have"),
            (8, "\n\n\n"),
            (9, "UPPER case The BE to\nUPPER case The BE to"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_edge_semantics(self, docs):
        from bayard_spark.functions.textstats import gopher_rules

        out = {
            r["doc_id"]: r.asDict()
            for r in gopher_rules(docs).collect()
        }
        assert set(out) == {1, 2, 3, 4, 5, 6, 7, 8, 9}
        # NULL / empty / whitespace / blank-only docs: all zeros, fail
        for d in (3, 4, 5, 8):
            assert out[d]["n_words"] == 0
            assert out[d]["n_lines"] == 0
            assert out[d]["mean_word_len"] == 0.0
            assert out[d]["gopher_pass"] is False
        # dup-line accounting: doc 2 has lines [dup, dup, unique, the-be...]
        assert out[2]["n_lines"] == 4
        assert round(out[2]["dup_line_frac"], 6) == round(1 / 4, 6)
        # ".." on one line and "." starting the next must NOT count as a
        # '...' symbol match (the whole-text count cannot cross '\n')
        assert out[6]["symbol_word_ratio"] == round(
            2 / out[6]["n_words"], 6
        )  # '#' and the literal '...' only
        # bullets / ellipsis per-line anchors
        assert out[7]["bullet_line_ratio"] == round(2 / 4, 6)
        assert out[7]["ellipsis_line_ratio"] == round(1 / 4, 6)
        # duplicate lines count words per instance
        assert out[9]["n_words"] == 10
        assert out[9]["dup_line_frac"] == 0.5

    def test_append_matches_base(self, docs):
        from bayard_spark.functions.textstats import gopher_rules

        base = gopher_rules(docs).orderBy("doc_id").collect()
        app = (
            gopher_rules(docs, append=True)
            .select(*[c for c in gopher_rules(docs).columns])
            .orderBy("doc_id")
            .collect()
        )
        assert [r.asDict() for r in base] == [r.asDict() for r in app]


class TestParaDedupHashProxy:
    def test_planted_boilerplate(self, spark):
        from bayard_spark.functions.dedup import paragraph_dedup

        rows = [
            (1, "keep one\nBOILER\nkeep two"),
            (2, "BOILER\nonly here"),
            (3, "solo text"),
            (4, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r
            for r in paragraph_dedup(df, sep="\n").collect()
        }
        assert out[1]["text_clean"] == "keep one\nkeep two"
        assert out[1]["n_removed"] == 1
        assert out[2]["text_clean"] == "only here"
        assert out[3]["text_clean"] == "solo text"
        assert 4 not in out  # NULL text emits no row (unchanged contract)

    def test_dup_count_fast_path_identical(self, spark):
        from bayard_spark.functions.dedup import paragraph_dedup

        rows = [(i, f"common\nuniq {i}") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        a = sorted(
            (r["doc_id"], r["text_clean"], r["n_removed"])
            for r in paragraph_dedup(df, sep="\n").collect()
        )
        b = sorted(
            (r["doc_id"], r["text_clean"], r["n_removed"])
            for r in paragraph_dedup(df, sep="\n", dup_count=1).collect()
        )
        assert a == b
        assert all(t == f"uniq {d}" for d, t, _ in a)


class TestLinearScoreAppend:
    def test_append_matches_base(self, spark):
        from bayard_spark.functions.textstats import linear_text_score

        docs = spark.createDataFrame(
            [(1, "good fine text"), (2, None), (3, "bad awful")],
            "doc_id long, text string",
        )
        w = spark.createDataFrame(
            [(i, (i % 7 - 3) * 0.1) for i in range(64)],
            "bucket long, weight double",
        )
        base = {
            r["doc_id"]: (r["n_feats"], r["score"])
            for r in linear_text_score(docs, w, num_buckets=64).collect()
        }
        app = {
            r["doc_id"]: (r["n_feats"], r["score"], r["text"])
            for r in linear_text_score(
                docs, w, num_buckets=64, append=True
            ).collect()
        }
        assert set(base) == set(app)
        for d in base:
            assert base[d] == app[d][:2]
        assert app[3][2] == "bad awful"  # input columns preserved
