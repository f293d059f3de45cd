"""Seeded input generators for the three benchmark workloads.

Everything the engine sees is produced here from ``random.Random(seed)``,
so the same seed always gives byte-identical inputs. Nothing is imported
from the engine: an edit to ``sources/`` or ``demo.py`` cannot silently
change a workload.

- ``plain_docs``: the sf0.1 ``documents`` profile — 30 lowercase ASCII
  words, 10..100 words per doc, sf0.1 language mix. Every doc passes the
  tagger's plain-words screen.
- ``ontology_rows`` + ``web_pages``: real-text pages in en/fr/zh
  (punctuation, capitals, ``\\r\\n``, ``\\n\\n`` paragraphs, emoji and
  hashtags, diacritics, CJK runs), ~2% in an unsupported language, ~1%
  NULL text, ~20% on three hot domains, mentioning keywords of a seeded
  ontology with shared aliases and categories.
- ``crawl_pages``: line-structured pages with string url ids, shared
  boilerplate lines, planted exact and near duplicates.
"""

from __future__ import annotations

import random
import unicodedata
from datetime import datetime, timedelta

# --- plain_words ---------------------------------------------------------

# the 30-word vocabulary of the sf0.1 ``documents`` table
PLAIN_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PLAIN_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))

# the engine's demo ontology, restated here so the workload cannot drift
DEMO_ONTOLOGY = (
    ("scan_op", "table scan"),
    ("merge_op", "merge"),
    ("merge_op", "slow"),
    ("window_op", "window"),
    ("customer_ent", "customer"),
    ("spark_ent", "spark"),
)
DEMO_LANGUAGES = ["en", "zh", "es", "fr", "de"]


def _pick_lang(rng: random.Random, table) -> str:
    r = rng.random()
    for lang, share in table:
        r -= share
        if r < 0:
            return lang
    return table[-1][0]


def plain_docs(n: int, seed: int) -> list[tuple[int, str, str]]:
    """(doc_id, text, lang) rows shaped like sf0.1 ``documents``."""
    rng = random.Random(seed)
    return [
        (
            i,
            " ".join(rng.choice(PLAIN_VOCAB) for _ in range(rng.randint(10, 100))),
            _pick_lang(rng, PLAIN_LANGS),
        )
        for i in range(n)
    ]


# --- web_pages -------------------------------------------------------------

WEB_LANGS = (("en", 0.6), ("fr", 0.2), ("zh", 0.2))
WEB_LANGUAGES = ["en", "fr", "zh"]
UNSUPPORTED_LANG = "ko"  # not in the engine's supported list
HOT_DOMAINS = ("hub.example.com", "news.example.org", "blog.example.net")

_WORDS = {
    "en": (
        "the of and to in is was for on that with as by at from this have "
        "are not but had his they were which one you all their there been "
        "has when who will more would its into than them only other new "
        "some could time these two may first then any like now over such "
        "our most after also did many before must through back years where "
        "much your way well down should because each just those people how "
        "too little state good very make world still own see men work long "
        "get here between both life being under never day same another know "
        "while last might great old year off come since against go came "
        "right used take three city river market report company school data "
        "network research council museum festival station harbour bridge "
        "season energy water system project service village county results "
        "growth policy history science music"
    ).split(),
    "fr": (
        "le la les de des du un une et est en dans que qui pour pas sur au "
        "avec ce il elle nous vous ils sont été être avoir fait plus par "
        "mais comme tout cette ses leur années ville pays premier première "
        "après avant très bien aussi depuis entre sous où même déjà encore "
        "toujours école société marché rivière musée gare pont été hiver "
        "économie histoire données réseau recherche région village équipe "
        "résultats énergie système projet développement français célèbre "
        "connu élève théâtre château forêt côte"
    ).split(),
    "de": (
        "der die das und ist nicht ein eine zu den von mit sich des auf für "
        "im dem als auch es an werden aus er hat dass sie nach wird bei "
        "einer um am sind noch wie einem über einen so zum war haben nur "
        "oder aber vor zur bis mehr durch man sein wurde sei Stadt Jahr "
        "Schule Markt Fluss Brücke Bahnhof Museum Gemeinde Forschung Daten "
        "Netzwerk Geschichte Wirtschaft Energie Wasser Projekt Ergebnisse "
        "größer schön über für können müssen Straße Universität München "
        "Köln Zürich Österreich"
    ).split(),
    "es": (
        "el la los las de del y en un una que es por con para no se su al "
        "lo como más pero sus le ya o fue este ha sí porque esta entre "
        "cuando muy sin sobre también me hasta hay donde quien desde todo "
        "nos durante todos uno les ni contra otros ese eso ciudad país "
        "año años río mercado museo estación puente escuela región datos "
        "red investigación historia economía energía agua proyecto sistema "
        "resultados pequeño español según además después también"
    ).split(),
    "zh": (
        "我们 他们 大家 自己 什么 可以 没有 知道 认为 希望 需要 应该 可能 "
        "现在 时间 今天 明天 今年 去年 每天 开始 结束 继续 进行 实现 提供 "
        "使用 表示 发现 研究 学习 教育 工作 生活 中国 北京 上海 广州 深圳 "
        "世界 国家 政府 人民 社会 文化 历史 经济 发展 政策 法律 安全 国际 "
        "关系 合作 交流 会议 活动 计划 项目 管理 组织 公司 企业 银行 市场 "
        "价格 增长 问题 情况 原因 结果 影响 方法 重要 主要 非常 已经 因为 "
        "所以 但是 如果 技术 科学 互联网 计算机 数据 信息 网络 系统 服务 "
        "产品 用户 城市 大学 学生 老师 医院 新闻 报告 能源 环境 交通"
    ).split(),
    UNSUPPORTED_LANG: (
        "우리 그들 오늘 내일 시간 세계 국가 정부 사회 문화 역사 경제 발전 "
        "연구 학습 교육 도시 대학 학생 병원 뉴스 보고서 에너지 환경"
    ).split(),
}

# pseudo-proper-noun syllables for ontology entity names (some carry
# diacritics so ``ignore_diacritics`` has work to do)
_SYLLABLES = (
    "ka ro mi ten vel dor an sa lu bre gen tor mar vik so len ta ri "
    "nor hal fen dra zu pe lo gar sen wil bar mon tes qua fi ré mü çe "
    "ña ö å ø é è"
).split()
_NAME_SUFFIX = {
    "en": ("Group", "Institute", "Valley", "Labs", "Bank", "Park", "Foundation"),
    "fr": ("Société", "Institut", "Vallée", "Parc", "Musée"),
    "de": ("Gruppe", "Institut", "Stiftung", "Werke", "Verlag"),
    "es": ("Grupo", "Instituto", "Fundación", "Parque", "Museo"),
}
_ZH_NAME_PARTS = (
    "北京 上海 广州 深圳 中国 国际 世界 科学 技术 数据 网络 能源 环境 交通 "
    "银行 大学 医院 公司 研究 信息 系统 服务 文化 经济"
).split()
CATEGORIES = (
    "person", "organisation", "place", "product", "event", "work",
    "concept", "technology", "institution", "landmark", "Société",
    "énergie",
)
_EMOJI = ("👍", "🚀", "🔥", "🎉", "🌍", "📈", "✅", "❤️", "🇫🇷", "👩‍💻")
_HASHTAGS = ("#data", "#news", "#Zürich", "#énergie", "#KG", "#opendata")


def _pseudo_name(rng: random.Random) -> str:
    # five letters or more, so no name lemmatizes to a function word
    # ("Bé" -> "be" would match every "was"/"were" on a page)
    word = ""
    while len(word) < 5:
        word = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
    return word.capitalize()


def ontology_rows(n_keywords: int, seed: int) -> list[tuple[str, str, str]]:
    """(tag, keyword, category) rows: ~n_keywords rows over ~n/2 tags.

    Tags have 1..3 keywords; ~8% of keywords are shared with another tag
    (ambiguous aliases that ``canonical_map`` merges), a few keywords are
    ordinary words, and ~6% are Chinese.
    """
    rng = random.Random(seed ^ 0x5EED)
    rows: list[tuple[str, str, str]] = []
    seen: list[str] = []
    tag_i = 0
    while len(rows) < n_keywords:
        tag = f"ent_{tag_i:06d}"
        tag_i += 1
        category = rng.choice(CATEGORIES)
        for _ in range(rng.choice((1, 1, 2, 2, 3))):
            r = rng.random()
            if r < 0.08 and seen:
                kw = rng.choice(seen)  # shared alias
            elif r < 0.14:
                kw = "".join(rng.sample(_ZH_NAME_PARTS, 2))
            elif r < 0.18:
                lang = rng.choice(("en", "fr", "de", "es"))
                kw = " ".join(rng.sample(_WORDS[lang][-40:], 2))
            else:
                lang = rng.choice(("en", "en", "fr", "de", "es"))
                parts = [_pseudo_name(rng) for _ in range(rng.randint(1, 2))]
                if rng.random() < 0.4:
                    parts.append(rng.choice(_NAME_SUFFIX[lang]))
                kw = " ".join(parts)
            rows.append((tag, kw, category))
            seen.append(kw)
    return rows[:n_keywords]


def _strip_marks(text: str) -> str:
    return "".join(
        ch for ch in unicodedata.normalize("NFD", text) if not unicodedata.combining(ch)
    )


def _surface(rng: random.Random, kw: str) -> str:
    """How a page writes a keyword: as is, lower/upper case, or without
    its diacritics — all equal under ignore_case + ignore_diacritics."""
    r = rng.random()
    if r < 0.15:
        return kw.lower()
    if r < 0.22:
        return kw.upper()
    if r < 0.35:
        return _strip_marks(kw)
    return kw


def _sentence(rng: random.Random, lang: str, keywords: list[str]) -> str:
    words = _WORDS[lang]
    n = rng.randint(6, 16)
    if lang == "zh":
        toks = [rng.choice(words) for _ in range(n)]
        for _ in range(rng.choice((0, 1, 1, 2))):
            toks.insert(rng.randrange(n), rng.choice(keywords))
        if rng.random() < 0.2:
            toks.insert(rng.randrange(n), f" {rng.choice(('AI', 'GPU', '5G', 'Spark'))} ")
        mid = rng.randrange(2, n)
        return "".join(toks[:mid]) + "，" + "".join(toks[mid:]) + rng.choice("。。。！？")
    toks = [rng.choice(words) for _ in range(n)]
    for _ in range(rng.choice((0, 1, 1, 2))):
        toks.insert(rng.randrange(n), _surface(rng, rng.choice(keywords)))
    if rng.random() < 0.3:
        toks[rng.randrange(1, n)] += ","
    if rng.random() < 0.1:
        toks.insert(rng.randrange(n), f"({rng.randint(1900, 2030)})")
    if rng.random() < 0.08:
        toks.append(rng.choice(_EMOJI))
    if rng.random() < 0.06:
        toks.append(rng.choice(_HASHTAGS))
    toks[0] = toks[0][:1].upper() + toks[0][1:]
    return " ".join(toks) + rng.choice("....!?")


def web_pages(
    n: int, seed: int, ontology: list[tuple[str, str, str]]
) -> list[tuple[str, datetime, str | None, str]]:
    """(url, warc_ts, text, lang) rows, grouped by host the way crawl
    segments are (so hot domains land in a few input files)."""
    rng = random.Random(seed)
    latin = [kw for _t, kw, _c in ontology if kw.isascii() or not _is_cjk(kw)]
    cjk = [kw for _t, kw, _c in ontology if _is_cjk(kw)]
    # a page mentions keywords from a small per-site subset of the ontology
    base_ts = datetime(2025, 1, 1)
    n_sites = max(20, n // 25)
    rows = []
    for i in range(n):
        if rng.random() < 0.2:
            host = HOT_DOMAINS[rng.randrange(3)]
        else:
            host = f"site{rng.randrange(n_sites):04d}.example.com"
        if rng.random() < 0.02:
            lang = UNSUPPORTED_LANG
        else:
            lang = _pick_lang(rng, WEB_LANGS)
        url = f"https://{host}/{lang}/{i:07d}.html"
        ts = base_ts + timedelta(seconds=rng.randrange(90 * 86400))
        if rng.random() < 0.01:
            rows.append((url, ts, None, lang))
            continue
        kws = rng.sample(cjk if lang == "zh" else latin, 12)
        word_lang = lang if lang in _WORDS else "en"
        title = _sentence(rng, word_lang, kws).rstrip(".!?。！？")
        paragraphs = [title]
        for _ in range(rng.randint(2, 4)):
            paragraphs.append(
                " ".join(_sentence(rng, word_lang, kws) for _ in range(rng.randint(2, 4)))
            )
        eol = "\r\n" if rng.random() < 0.1 else "\n"
        text = (eol + eol).join(paragraphs)
        if rng.random() < 0.1:
            text += eol + "  " + " ".join(rng.sample(_HASHTAGS, 2)) + " " + rng.choice(_EMOJI)
        rows.append((url, ts, text, lang))
    rows.sort(key=lambda r: (r[0].split("/")[2], r[0]))
    return rows


def _is_cjk(s: str) -> bool:
    return any("一" <= ch <= "鿿" for ch in s)


# --- crawl_dedup ----------------------------------------------------------

BOILERPLATE = (
    "Home | News | Sport | Business | Contact",
    "Copyright 2025 Example Media Group. All rights reserved.",
    "Subscribe to our newsletter for the latest updates",
    "This site uses cookies to improve your experience",
    "Share this article on social media",
    "Read more stories from our newsroom",
    "Advertisement",
    "Terms of use | Privacy policy | Cookie settings",
    "Follow us for more news every day",
    "Back to top",
    "Related articles you might like",
    "Sign in to leave a comment",
)


def crawl_pages(n: int, seed: int) -> dict:
    """Pages with string url ids plus the planted structure to check.

    Returns ``{"rows": [(url, text, lang)], "exact_pairs": [(a, b)],
    "boilerplate": [line]}``. Each exact pair has ``a < b`` and the same
    text; ~3% more pages are near duplicates (a copy with one line
    replaced), which dedup should mostly pair but need not.
    """
    rng = random.Random(seed)
    words = _WORDS["en"]
    n_sites = max(20, n // 30)
    urls = sorted(
        {f"https://site{rng.randrange(n_sites):04d}.example.com/a/{rng.getrandbits(40):010x}"
         for _ in range(n + n // 10)}
    )[:n]
    rng.shuffle(urls)

    def line() -> str:
        return " ".join(rng.choice(words) for _ in range(rng.randint(7, 14))) + "."

    texts: dict[str, str] = {}
    exact: list[tuple[str, str]] = []
    originals: list[str] = []
    for url in urls:
        r = rng.random()
        if originals and r < 0.03:
            src = rng.choice(originals)
            texts[url] = texts[src]
            exact.append(tuple(sorted((src, url))))
            continue
        if originals and r < 0.06:
            src = rng.choice(originals)
            src_lines = texts[src].split("\n")
            k = rng.randrange(len(src_lines))
            src_lines[k] = line()
            texts[url] = "\n".join(src_lines)
            continue
        body = [line() for _ in range(rng.randint(6, 14))]
        head = rng.sample(BOILERPLATE[:4], 2)
        tail = rng.sample(BOILERPLATE[4:], 2)
        texts[url] = "\n".join(head + body + tail)
        originals.append(url)
    rows = [(url, texts[url], "en") for url in urls]
    return {
        "rows": rows,
        "exact_pairs": sorted(set(exact)),
        "boilerplate": list(BOILERPLATE),
    }
