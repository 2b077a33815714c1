# -*- coding: utf-8 -*-
"""Deterministic synthetic Common-Crawl-shaped pages source.

Produces the pipeline's input table per BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Ground truth is known by construction (FIXTURES.md §1/§4): ``text`` is
composed from sentence templates over the reference's controlled
vocabularies, and ``html`` wraps ``text`` in boilerplate (nav/script/
style/footer + entity escaping) such that kernel.html2text recovers it
byte-identically. A held-out slice ships ``text = NULL`` and must be
recovered from ``html``.

Scale design: every row is a pure function of ``(page_index, seed)`` —
no shared RNG stream — so generation parallelises embarrassingly via
``spark.range(n).mapInPandas`` with no coordination, at any partition
count, with identical output. The host distribution is deliberately
skewed (one hub host gets ~20% of pages) to exercise skew handling in
the url-host partitioning downstream.
"""

from __future__ import annotations

import hashlib
import struct
from datetime import datetime, timedelta, timezone

from ..kernel import vocab as V

# --- name pools (shaped like the reference's entity patterns) ---------

_ORG_STEMS = [
    "华星", "蓝海", "远大", "中科", "天行", "凌云", "启明", "星辰",
    "恒通", "瑞丰", "九州", "联创", "东方", "广宇", "金桥", "紫光",
    "南山", "北斗", "青云", "飞跃", "宏图", "盛世", "卓越", "泰和",
]
_ORG_KINDS = ["科技", "智能", "数据", "网络", "生物", "能源", "金融", "半导体"]
_ORG_SUFS = list(V.ORG_SUFFIXES)

_SURNAMES = ["李", "王", "张", "刘", "陈", "杨", "赵", "黄", "周", "吴"]
_GIVEN = ["伟", "强", "敏", "静", "磊", "军", "洋", "艳", "明", "杰",
          "丽", "涛", "超", "娜", "鹏", "宇"]

_LOCS = sorted(V.LOCATIONS - {"中国", "美国", "欧洲", "亚洲"})

_PROD_MID = ["诊断", "调度", "检索", "翻译", "风控", "驾驶", "客服", "推荐"]
_PROD_SUF = list(V.PRODUCT_SUFFIXES_SMART)
_NEW_MID = ["检测", "存储", "降噪", "封装"]
_NEW_SUF = list(V.PRODUCT_SUFFIXES_NEW)

_TITLES = [a + b for a in V.TITLE_FIRST[:4] for b in V.TITLE_SECOND[:3]]

_HOSTS = [
    "news.example-hub.cn",      # hub host: deliberately skewed (~20%)
    "tech.daily-news.cn", "finance.portal.cn", "bio.sci-report.cn",
    "ai.trend-watch.cn", "chip.industry.cn", "edu.campus-news.cn",
    "energy.green.cn", "med.health-day.cn", "invest.market.cn",
    "cloud.webzine.cn", "auto.drive-news.cn", "city.metro.cn",
]

# sentence templates: (template, slots). Slots: O=org, O2=org, P=person,
# L=location, PR=smart product, NP=new product, T=title. Each template's
# expected triples follow from the kernel spec; golden fixtures are the
# kernel's pinned output, so generation only needs good coverage:
# mapped verbs, raw-verb fallthrough, stop-verb negatives, prep patterns,
# co-occurrence-only sentences, and multi-clause combinations.
_TEMPLATES = [
    "{O}宣布收购{O2}。",
    "{O}收购{O2}。",
    "{O}与{O2}达成合作。",
    "{O}投资{O2}。",
    "{P}担任{T}。",
    "{P}加入{O}。",
    "{O}开发{PR}。",
    "{O}发表{NP}。",
    "{O}在{L}成立{O2}。",
    "{O}与{O2}合作开发{PR}。",
    "{O}战胜{O2}。",
    "{O}获得{NP}。",
    "{O}支持{O2}。",
    "{P}是{O}的总经理。",          # stop verb -> no SVO
    "{O}有很多员工。",              # stop verb, single entity
    "{L}的{O}举办行业活动。",        # raw-verb fallthrough + co-occurrence
    "{O}签订合作协议。",            # raw verb, obj not entity
    "{P}在{O}担任{T}。",
    "{O}任命{P}先生。",
    "{O}提升产品质量。",            # mapped verb, obj not entity
    "{O}举办{NP}展示活动。",         # raw-verb fallthrough WITH entity obj ->
                                    # unsanitizable Chinese predicate, exercises
                                    # the dropped_relations quarantine path
    "“{OA}”与{O2}达成合作。",        # quoted ABBREVIATED mention of the page's
                                    # first org (stem+kind, no suffix) ->
                                    # ground truth for entity linking
]

_EN_SENTENCES = [
    "The quarterly report shows steady growth across all segments.",
    "Researchers published a new benchmark for language models.",
    "The committee approved the infrastructure proposal yesterday.",
    "Market analysts expect stronger demand in the coming quarter.",
]

_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _h(seed: int, page: int, salt: str) -> int:
    """Stable 64-bit hash — the only randomness source (no RNG state)."""
    raw = hashlib.blake2b(
        struct.pack("<qq", seed, page) + salt.encode(), digest_size=8
    ).digest()
    return struct.unpack("<Q", raw)[0]


def _pick(seed: int, page: int, salt: str, pool: list) -> str:
    return pool[_h(seed, page, salt) % len(pool)]


def _org(seed: int, page: int, salt: str) -> str:
    return (
        _pick(seed, page, salt + "s", _ORG_STEMS)
        + _pick(seed, page, salt + "k", _ORG_KINDS)
        + _pick(seed, page, salt + "f", _ORG_SUFS)
    )


def _person(seed: int, page: int, salt: str) -> str:
    return _pick(seed, page, salt + "sn", _SURNAMES) + _pick(seed, page, salt + "gv", _GIVEN)


def _sentence(seed: int, page: int, k: int) -> str:
    t = _pick(seed, page, f"tpl{k}", _TEMPLATES)
    o = _org(seed, page, f"o{k}")
    o2 = _org(seed, page, f"p{k}")
    if o2 == o:
        o2 = _org(seed, page, f"q{k}")
    # abbreviation of the page's FIRST org (sentence 0's O slot): stem+kind
    # without the suffix — the classic Chinese shortening (华星科技公司 ->
    # 华星科技). Pages that also mention the full form give the linking
    # stage known-by-construction same_as ground truth.
    oa = _pick(seed, page, "o0s", _ORG_STEMS) + _pick(seed, page, "o0k", _ORG_KINDS)
    return t.format(
        O=o, O2=o2, OA=oa,
        P=_person(seed, page, f"pe{k}"),
        L=_pick(seed, page, f"l{k}", _LOCS),
        PR="智能" + _pick(seed, page, f"pm{k}", _PROD_MID) + _pick(seed, page, f"ps{k}", _PROD_SUF),
        NP="新型" + _pick(seed, page, f"nm{k}", _NEW_MID) + _pick(seed, page, f"ns{k}", _NEW_SUF),
        T=_pick(seed, page, f"t{k}", _TITLES),
    )


def _escape(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


_BOILERPLATE_HEAD = (
    "<html><head><title>page</title>"
    "<script>var t = 1 < 2 && \"x\";</script>"
    "<style>.m{color:#333}</style></head><body>"
    "<nav><ul><li>首页</li><li>新闻</li></ul></nav>"
    "<header><h1>每日新闻</h1></header>"
    "<div class=\"sidebar-box\"><ul><li>推广链接</li></ul></div>"
)
_BOILERPLATE_TAIL = (
    "<div class=\"advert-top\">广告内容 &amp; 推广</div>"
    "<footer>版权所有 &copy; 2024</footer>"
    "<!-- generated page --></body></html>"
)


def page_row(page: int, seed: int = 42) -> dict:
    """Build one page row; pure function of (page, seed)."""
    hub = _h(seed, page, "hub") % 5 == 0  # ~20% of pages on the hub host
    host = _HOSTS[0] if hub else _HOSTS[1 + _h(seed, page, "host") % (len(_HOSTS) - 1)]
    url = f"https://{host}/articles/{page:08d}.html"

    is_en = _h(seed, page, "lang") % 20 == 0  # small English tail
    if is_en:
        n_sent = 1 + _h(seed, page, "ns") % 3
        text = " ".join(
            _pick(seed, page, f"en{k}", _EN_SENTENCES) for k in range(n_sent)
        )
        lang = "en"
    else:
        n_sent = 2 + _h(seed, page, "ns") % 5
        text = "".join(_sentence(seed, page, k) for k in range(n_sent))
        lang = "zh"

    html = (
        _BOILERPLATE_HEAD
        + "<main><article>"
        + "".join(f"<p>{_escape(ln)}</p>" for ln in text.split("\n"))
        + "</article></main>"
        + _BOILERPLATE_TAIL
    ).encode("utf-8")

    # monotone-within-host crawl time
    ts = _EPOCH + timedelta(seconds=page * 7 + (_h(seed, page, "jit") % 7))
    held_out = _h(seed, page, "held") % 10 == 0  # text must come from html
    return {
        "url": url,
        "warc_ts": ts,
        "html": html,
        "text": None if held_out else text,
        "lang": lang,
    }


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def generate_spark(spark, n: int, seed: int = 42, partitions: int | None = None,
                   start: int = 0):
    """Distributed generation: spark.range drives page indices; each
    partition builds its rows independently (pure function of index).
    ``start`` offsets the index range — disjoint page slices build
    disjoint corpora (multi-graph fixtures)."""
    import pandas as pd

    rng = (spark.range(start, start + n, 1, partitions) if partitions
           else spark.range(start, start + n))

    def build(batches):
        for pdf in batches:
            yield pd.DataFrame([page_row(int(i), seed) for i in pdf["id"]])

    return rng.mapInPandas(build, schema=PAGES_SCHEMA)
