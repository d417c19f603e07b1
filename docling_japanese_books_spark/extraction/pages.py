"""Deterministic synthetic ``pages`` table generator (FIXTURES.md §3).

Target schema (north-rule input hint):
    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

- Pure function of (seed, row_id): the same id always yields the same page,
  so the table can be generated distributively with ``spark.range(n)`` +
  ``mapInPandas`` — no driver-side materialization, scales to any n.
- ``text`` holds the EXPECTED extracted main content — the golden output of
  the boilerplate stripper, making every generated corpus self-verifying
  (extract(html) must equal text, byte for byte).
- Host distribution is zipfian (rank-(s=1.2)) so per-host aggregations are
  genuinely skewed — the salting evidence required by the north rule.
- A deterministic slice of rows is CJK (Japanese sentences ending 。！？,
  full-width digits/latin) and a slice is malformed (invalid UTF-8) to
  exercise the decode_error path.
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
import random
from typing import Iterator, List

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)

N_HOSTS = 50
ZIPF_S = 1.2
EPOCH = dt.datetime(2024, 1, 1)

_EN_VOCAB = (
    "data spark table scan filter join merge sort window batch stream "
    "query column row partition shuffle broadcast salt bucket resume "
    "extract chunk normalize token corpus crawl host page anchor"
).split()

_JP_SENTENCES = [
    "自然言語処理は言語学と計算機科学の学際分野である",
    "深層学習の発展により精度が大幅に向上した",
    "日本語は漢字とひらがなとカタカナを併用する",
    "全角文字の例はＡＢＣ１２３です",
    "このページは抽出テストのための本文です",
    "縦書きの文書は読み順の再構成が必要になる",
]
_JP_ENDINGS = ["。", "！", "？"]

# precomputed zipf CDF over host ranks
_weights = [1.0 / (k**ZIPF_S) for k in range(1, N_HOSTS + 1)]
_total = sum(_weights)
_CDF: List[float] = []
_acc = 0.0
for w in _weights:
    _acc += w / _total
    _CDF.append(_acc)


def _host_for(rng: random.Random) -> str:
    u = rng.random()
    for rank, c in enumerate(_CDF):
        if u <= c:
            return f"host{rank:02d}.example.com"
    return f"host{N_HOSTS - 1:02d}.example.com"


def _en_paragraph(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(_EN_VOCAB) for _ in range(n_words)) + "."


def _jp_paragraph(rng: random.Random, n_sents: int) -> str:
    return "".join(
        rng.choice(_JP_SENTENCES) + rng.choice(_JP_ENDINGS) for _ in range(n_sents)
    )


def _nav_html(rng: random.Random) -> str:
    links = "".join(
        f'<a href="/s/{i}">{rng.choice(_EN_VOCAB)}</a> ' for i in range(8)
    )
    return f"<nav><div>{links}</div></nav>"


def _ads_html(rng: random.Random) -> str:
    # link-dominated div: must be classified boilerplate by link density
    links = "".join(
        f'<a href="/ad/{i}">buy {rng.choice(_EN_VOCAB)} now {rng.choice(_EN_VOCAB)}</a>'
        for i in range(5)
    )
    return f'<div class="ads">{links}</div>'


def make_page(seed: int, row_id: int, min_paras: int = 2, max_paras: int = 5) -> dict:
    """Pure (seed, id) -> one pages row.

    ``min_paras``/``max_paras`` control page weight: tests use the small
    default; the bench uses 10-30 paragraphs (~10-40 KB html) to match real
    Common-Crawl page sizes, where per-page parse work dominates fixed
    per-row costs."""
    rng = random.Random(f"{seed}:{row_id}")
    host = _host_for(rng)
    url = f"https://{host}/p/{row_id}"
    warc_ts = EPOCH + dt.timedelta(seconds=(row_id * 37) % (365 * 86400))

    kind = rng.random()
    if kind < 0.02:  # malformed: invalid utf-8 bytes
        return dict(
            url=url,
            warc_ts=warc_ts,
            html=b"<html><p>broken \xff\xfe page</p></html>",
            text="",
            lang="und",
        )

    is_jp = kind < 0.22  # ~20% CJK rows
    lang = "ja" if is_jp else "en"
    n_paras = rng.randint(min_paras, max_paras)
    if is_jp:
        paras = [_jp_paragraph(rng, rng.randint(2, 4)) for _ in range(n_paras)]
        title = "テスト文書" + str(row_id)
    else:
        paras = [_en_paragraph(rng, rng.randint(20, 60)) for _ in range(n_paras)]
        title = f"Document {row_id}"

    body_blocks = "".join(f"<p>{html_mod.escape(p)}</p>" for p in paras)
    page_html = (
        "<html><head><title>x</title><style>.a{color:red}</style>"
        "<script>var x=1;</script></head><body>"
        f"{_nav_html(rng)}"
        f"<header><div>site {host}</div></header>"
        f"<article><h1>{html_mod.escape(title)}</h1>{body_blocks}</article>"
        f"{_ads_html(rng)}"
        f"<footer><div>copyright {host} <a href='/tos'>terms</a></div></footer>"
        "</body></html>"
    )
    # expected extraction: h1 rides along (near-good) + the paragraphs
    expected = "\n\n".join([title] + paras)
    return dict(
        url=url,
        warc_ts=warc_ts,
        html=page_html.encode("utf-8"),
        text=expected,
        lang=lang,
    )


def generate_pages(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    min_paras: int = 2,
    max_paras: int = 5,
) -> DataFrame:
    """Distributed deterministic generation: spark.range -> mapInPandas.

    Scale: embarrassingly parallel, no shuffle; each task derives its rows
    purely from ids, so the same (n, seed) yields the same table on 1 core
    or 1000 executors.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [make_page(seed, int(i), min_paras, max_paras) for i in pdf["id"]]
            )

    return spark.range(n).mapInPandas(gen, PAGES_SCHEMA)
