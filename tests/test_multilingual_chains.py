"""lucene_cs / lucene_ar analysis chains: stemmer goldens from the
published algorithm specs (Dolamic–Savoy Czech light stemmer; Larkey
light10 Arabic), registry round-trip, and end-to-end build + retrieval
rank identity vs the numpy oracle on synthetic Czech/Arabic corpora —
mirroring the reference's cs/ar tokenizer coverage
(ivory/core/tokenize/TokenizerFactory.java:15-100)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from ivory_spark.functions.stemmer_ar import arabic_light, arabic_normalize
from ivory_spark.functions.stemmer_cs import czech_stem
from ivory_spark.functions.stemmer_es import spanish_stem
from ivory_spark.functions.stemmer_fr import french_stem
from ivory_spark.functions.tokenizer import get_tokenizer
from ivory_spark.index.build import IndexConfig, build_index
from ivory_spark.index.reader import open_index
from ivory_spark.oracle import build_oracle_index, oracle_topk
from ivory_spark.query.exact import bm25_topk
from ivory_spark.query.serve import LocalSearcher

from test_rank_identity import assert_matches_oracle


def test_czech_stem_goldens():
    # Dolamic–Savoy light-stemmer behavior (case + possessive endings,
    # palatalisation folds)
    assert czech_stem("ženami") == "žen"      # -ami instrumental
    assert czech_stem("ženách") == "žen"      # -ách locative
    assert czech_stem("matčin") == "matk"     # -in possessive + či->k
    assert czech_stem("soudcích") == "soudc"  # -ích; "cí" != "ci" so no k-fold
    assert czech_stem("vojáci") == "voják"    # -ci -> k palatalise
    assert czech_stem("pražských") == "pražsk"
    assert czech_stem("městem") == "měst"     # -em + e-delete
    assert czech_stem("atech") == "atech"     # too short for -atech (len>7)
    assert czech_stem("lesy") == "les"        # -y plural
    assert czech_stem("okno") == "okn"        # -o neuter
    # palatalisation ze->h
    assert czech_stem("praze") == "prah"


def test_arabic_normalize_and_stem_goldens():
    assert arabic_normalize("أحمد") == "احمد"          # alef hamza fold
    assert arabic_normalize("مكتبة") == "مكتبه"        # teh marbuta -> heh
    assert arabic_normalize("مستشفى") == "مستشفي"      # maksura -> ya
    assert arabic_light("والكتاب") == "كتاب"           # wal- prefix
    assert arabic_light("المكتبة") == "مكتب"           # al- prefix + -ه suffix
    assert arabic_light("كتابها") == "كتاب"            # -ها suffix
    assert arabic_light("مسلمون") == "مسلم"            # -ون suffix
    assert arabic_light("وزير") == "زير"               # waw stripped (≥3 remain)
    assert arabic_light("ولد") == "ولد"                # waw kept: residual < 3


def test_spanish_stem_goldens():
    # Snowball Spanish algorithm behavior (hand-traced against the
    # published spec: regions, pronoun step, suffix groups, deaccent)
    assert spanish_stem("gatos") == "gat"
    assert spanish_stem("canciones") == "cancion"
    assert spanish_stem("canción") == "cancion"
    assert spanish_stem("amablemente") == "amabl"
    assert spanish_stem("lógica") == "logic"
    assert spanish_stem("trabajando") == "trabaj"
    assert spanish_stem("rápidamente") == "rapid"
    assert spanish_stem("nacionalidad") == "nacional"
    assert spanish_stem("comiéndoselo") == "com"  # pronoun + deaccent + 2b


def test_french_stem_goldens():
    # Snowball French algorithm behavior (hand-traced: prelude marks,
    # RV/R1/R2, suffix groups, undouble, final-syllable un-accent)
    assert french_stem("chantaient") == "chant"     # 2b -aIent
    assert french_stem("mangeront") == "mang"       # 2b -eront
    assert french_stem("logiquement") == "logiqu"   # -ement, iqU kept (not R2)
    assert french_stem("heureuse") == "heureux"     # euse in R1 -> eux
    assert french_stem("majestueux") == "majestu"   # eux in R2 deleted
    assert french_stem("nationale") == "national"   # step-4 final e
    assert french_stem("continuité") == "continu"   # -ité in R2
    assert french_stem("nations") == "nation"       # step-4 s
    assert french_stem("finissait") == "fin"        # 2a -issait
    # eus IS in R2 here -> deleted after -ement; step 6 unaccents only
    # the final syllable
    assert french_stem("généreusement") == "géner"


def test_turkish_chain():
    """Turkish case folding (dotted/dotless i), apostrophe-suffix
    removal, stoplist, F5 prefix stem (documented substitution for the
    Snowball Turkish stemmer — Can et al. 2008)."""
    from ivory_spark.functions.tokenizer import get_tokenizer, turkish_fold

    # plain .lower() would give "istanbul" for İSTANBUL but "i̇" issues for I
    assert turkish_fold("İSTANBUL ILIK") == "istanbul ılık"
    tr = get_tokenizer("lucene_tr").tokenize_py
    assert tr("Zürih'e gidiyorum") == ["zürih", "gidiy"]
    # stopwords out, prefixes applied
    assert tr("bu kitaplardan ve üniversitelerde") == ["kitap", "ünive"]


def test_chain_tokenize_stopwords():
    cs = get_tokenizer("lucene_cs").tokenize_py
    assert cs("Ženami a ženách, ale okno!") == ["žen", "žen", "okn"]
    ar = get_tokenizer("lucene_ar").tokenize_py
    # stopwords (من, في) dropped on surface form; content words stemmed
    toks = ar("الكتاب من المكتبة في بيتها")
    assert toks == ["كتاب", "مكتب", "بيت"]


def _mini_corpus(vocab_docs: list[str], lang: str) -> pd.DataFrame:
    rows = []
    for i, content in enumerate(vocab_docs):
        rows.append((f"org/{lang}", f"doc/{i}",
                     hashlib.sha1(f"{lang}{i}".encode()).hexdigest(), lang, content))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


CS_DOCS = [
    "ženami a dětmi v praze",
    "žena šla do města",
    "soudcích a soudce v budově",
    "pražských ulicích chodí lidé",
    "okno domu bylo otevřené",
    "lesy a louky kolem města",
    "matčin dům stojí u lesa",
    "městem projela tramvaj",
] * 3

ES_DOCS = [
    "los gatos corren por la casa",
    "el gato duerme en la cocina",
    "las canciones populares de la región",
    "una canción lenta y amable",
    "trabajando rápidamente en la biblioteca",
    "los trabajos de la nacionalidad española",
    "la lógica del programa es simple",
    "bibliotecas públicas de la ciudad",
] * 3

FR_DOCS = [
    "les chansons populaires de la ville",
    "une chanson heureuse et nationale",
    "ils chantaient dans la rue",
    "le chanteur finissait son travail",
    "la continuité du programme logique",
    "les nations majestueuses du monde",
    "il mangera rapidement ce soir",
    "une bibliothèque nationale immense",
] * 3

TR_DOCS = [
    "kitaplar masada duruyor",
    "kitabın sayfaları eski",
    "üniversiteler şehirde toplandı",
    "üniversitenin kütüphanesi büyük",
    "çocuklar bahçede oynuyor",
    "İstanbul'da hava güzel",
    "istanbullu çocuk okula gitti",
    "kütüphanede sessizlik var",
] * 3

AR_DOCS = [
    "الكتاب في المكتبة الكبيرة",
    "كتابها الجديد عن التاريخ",
    "المكتبات العامة في المدينة",
    "وزير التعليم زار المدرسة",
    "مسلمون كثيرون في البلاد",
    "مستشفى المدينة قريب من البيت",
    "احمد يقرأ الكتب كل يوم",
    "بيتها قريب من المكتبة",
] * 3


def assert_served_matches_oracle(root, oi, queries, tok):
    """LocalSearcher.search equals the numpy oracle bit for bit, its
    non-ASCII terms looked up by their UTF-8 bytes in the serve image;
    each query once more with an OOV token and a term wider than the
    image's fixed-width term keys (unless the chain cuts it, as
    lucene_tr's stemmer does), which change nothing."""
    searcher = LocalSearcher(root)
    width = searcher._terms.itemsize
    long_term = "x" * (width + 1)
    assert searcher._lookup(["é" * width, long_term, "zzqoovtoken"]) == [-1, -1, -1]
    if tok != "lucene_tr":  # its stemmer keeps five letters
        assert any(len(t.encode()) > width for t in get_tokenizer(tok).tokenize_py(long_term))
    noisy = [{"qid": q["qid"] + "+", "query": f"{q['query']} zzqoovtoken {long_term}"}
             for q in queries]
    golden = oracle_topk(oi, queries + noisy, k=10)
    for q in queries + noisy:
        got = searcher.search(q["query"], k=10)
        want = golden[q["qid"]]
        assert [(g["docno"], g["docid"]) for g in got] == [
            (w["docno"], w["docid"]) for w in want
        ], q
        assert np.array_equal(
            np.array([g["score"] for g in got], dtype=np.float32).view(np.uint32),
            np.array([w["score"] for w in want], dtype=np.float32).view(np.uint32),
        ), q
    for q, n in zip(queries, noisy):
        assert golden[n["qid"]] == golden[q["qid"]]


@pytest.mark.parametrize(
    "tok,docs,queries",
    [
        ("lucene_cs", CS_DOCS, [
            {"qid": "c1", "query": "ženách v městě"},
            {"qid": "c2", "query": "pražský soudce"},
        ]),
        ("lucene_es", ES_DOCS, [
            {"qid": "e1", "query": "gatos cantando canciones"},
            {"qid": "e2", "query": "trabajos lógicos"},
        ]),
        ("lucene_fr", FR_DOCS, [
            {"qid": "f1", "query": "chansons nationales"},
            {"qid": "f2", "query": "chanteurs heureux"},
        ]),
        ("lucene_tr", TR_DOCS, [
            {"qid": "t1", "query": "kitaplardan üniversiteye"},
            {"qid": "t2", "query": "İstanbul çocukları"},
        ]),
        ("lucene_ar", AR_DOCS, [
            {"qid": "a1", "query": "الكتب والمكتبات"},
            {"qid": "a2", "query": "مستشفي المدينة"},
        ]),
    ],
)
def test_e2e_rank_identity(spark, tmp_path_factory, tok, docs, queries):
    """Build + BM25 retrieval under the cs/ar chains stays float32
    rank-identical to the numpy oracle, and inflected query forms hit
    documents containing other inflections of the same lemma."""
    corpus = _mini_corpus(docs, tok.split("_")[1])
    d = tmp_path_factory.mktemp(f"corpus_{tok}")
    p = str(d / "corpus.parquet")
    corpus.to_parquet(p, index=False)
    root = str(d / "idx")
    props = build_index(spark, p, root, IndexConfig(tokenizer=tok))
    assert props["tokenizer"] == tok
    index = open_index(spark, root)
    oi = build_oracle_index(corpus, tokenizer=tok)
    golden = oracle_topk(oi, queries, k=10)
    got = bm25_topk(spark, index, queries, k=10)
    assert_matches_oracle(got, golden)
    # stemming unified at least one inflected query with the corpus
    assert any(len(v) > 0 for v in golden.values())
    assert_served_matches_oracle(root, oi, queries, tok)


def test_stemmers_never_crash_on_odd_input():
    """Every analysis chain must survive arbitrary junk tokens (empty,
    single chars, all-accents, mixed scripts, very long) — a crash in a
    worker tokenizer poisons a whole build task."""
    import random
    import string

    from ivory_spark.functions.stemmer import porter_stem
    from ivory_spark.functions.stemmer_de import german_stem
    from ivory_spark.functions.tokenizer import TOKENIZERS

    stemmers = [porter_stem, german_stem, czech_stem, spanish_stem,
                french_stem, arabic_light]
    rng = random.Random(13)
    pools = [
        "aeiouáéíóúüñçàâëêèïîôûùœžščřďťň",
        string.ascii_lowercase,
        "اءبتثجحخدذرزسشصضطظعغفقكلمنهوي",
        "日本語中文한국어",
        "'-_0123456789",
    ]
    samples = ["", "a", "á", "ě", "ß", "ي", "'", "x" * 300]
    for _ in range(400):
        pool = rng.choice(pools)
        samples.append("".join(rng.choice(pool) for _ in range(rng.randint(1, 12))))
    for stem in stemmers:
        for s in samples:
            out = stem(s)
            assert isinstance(out, str)
    for name, spec in TOKENIZERS.items():
        for s in samples:
            toks = spec.tokenize_py(s)
            assert isinstance(toks, list), name


def test_zh_dict_goldens():
    """FMM segmentation (the documented Stanford-segmenter substitution,
    functions/segment_zh.py): longest lexicon word wins, OOV chars fall
    back to singles, latin runs and punctuation behave like cjk_bigram."""
    zh = get_tokenizer("zh_dict").tokenize_py
    assert zh("我们在北京学习") == ["我们", "在", "北京", "学习"]
    # greedy longest match: 4-char domain words beat their 2-char prefixes
    assert zh("机器学习和搜索引擎") == ["机器学习", "和", "搜索引擎"]
    # OOV run falls back to single characters
    assert zh("烫烫烫") == ["烫", "烫", "烫"]
    # punctuation splits runs; latin/digits tokenize as words
    assert zh("代码，python3 程序") == ["代码", "python3", "程序"]
    # mixed scripts round-trip
    assert zh("用spark处理数据") == ["用", "spark", "处理", "数据"]
    from ivory_spark.functions.segment_zh import segment_zh

    # injectable lexicon
    assert segment_zh("abc", frozenset({"ab"})) == ["ab", "c"]


ZH_DOCS = [
    "我们使用搜索引擎查询文档",
    "机器学习模型需要大量数据训练",
    "学生在大学学习计算机科学",
    "系统对查询结果进行排序",
    "数据库服务器存储用户信息",
    "老师在学校教育学生",
    "互联网技术发展很快",
    "程序代码需要测试",
] * 3


def test_zh_dict_e2e_rank_identity(spark, tmp_path_factory):
    """Build + BM25 retrieval under zh_dict stays float32 rank-identical
    to the numpy oracle, and word-level segmentation retrieves documents
    sharing segmented words with the query."""
    corpus = _mini_corpus(ZH_DOCS, "zh")
    d = tmp_path_factory.mktemp("corpus_zh")
    p = str(d / "corpus.parquet")
    corpus.to_parquet(p, index=False)
    root = str(d / "idx")
    props = build_index(spark, p, root, IndexConfig(tokenizer="zh_dict"))
    assert props["tokenizer"] == "zh_dict"
    index = open_index(spark, root)
    oi = build_oracle_index(corpus, tokenizer="zh_dict")
    queries = [
        {"qid": "z1", "query": "机器学习训练数据"},
        {"qid": "z2", "query": "学生学习搜索引擎"},
    ]
    golden = oracle_topk(oi, queries, k=10)
    got = bm25_topk(spark, index, queries, k=10)
    assert_matches_oracle(got, golden)
    assert all(len(v) > 0 for v in golden.values())
    assert_served_matches_oracle(root, oi, queries, "zh_dict")
    # the dictionary chain indexes WORDS: the multi-char lexicon entries
    # appear as index terms (bigram chain would shatter them)
    terms = {r["term"] for r in index.dictionary.collect()}
    assert "搜索引擎" in terms and "机器学习" in terms
