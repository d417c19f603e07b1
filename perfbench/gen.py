"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its ``seed`` argument and lives in
the benchmark's own directory, so a change to the package under test can
never change the inputs it is measured on. Each generator also returns the
expected answer the benchmark checks the program's output against:

- ``make_pages``: a crawl table ``(url, warc_ts, html, text, lang)`` whose
  ``text`` column is the expected extracted main content per ``url``;
- ``make_texts``: an extracted-text table ``(url, text)`` with planted
  exact copies and near-duplicates, plus the planted sets;
- ``make_tables``: the relational and document tables the headline queries
  read, shaped like the sf0.1 fixture (schemas, row counts, key ranges,
  value domains and distributions).

Pages and texts draw from a zipf-weighted synthetic vocabulary (English-like words
over a letter distribution, plus real stopwords) and from zipf-weighted
kana/kanji runs, so byte-shingle sets of unrelated documents overlap about
as little as they do in real prose and MinHash LSH candidates stay close to
the planted pairs.
"""

from __future__ import annotations

import datetime as dt
import html as html_mod
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = (
    "the and of to in is that it for was a on with as by at from be this or"
).split()
_LETTERS = np.array(list("etaoinshrdlcumwfgypbvkjxqz"))
_LETTER_P = np.array(
    [12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8, 2.4,
     2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.2, 0.2, 0.1, 0.1]
)
_LETTER_P = _LETTER_P / _LETTER_P.sum()
VOCAB_SIZE = 20000
_HIRAGANA = [chr(c) for c in range(0x3041, 0x3094)]
_KATAKANA = [chr(c) for c in range(0x30A1, 0x30F4)]


def _jis_kanji() -> list:
    """Kanji that round-trip through both Shift_JIS and EUC-JP."""
    out = []
    for c in range(0x4E00, 0x9FB0):
        ch = chr(c)
        try:
            if ch.encode("shift_jis").decode("shift_jis") == ch and (
                ch.encode("euc_jp").decode("euc_jp") == ch
            ):
                out.append(ch)
        except UnicodeError:
            pass
    return out


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w / w.sum())


def _draw(rng: np.random.Generator, cdf: np.ndarray, k: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(k)), len(cdf) - 1)


class Prose:
    """Seeded English-like and Japanese-like sentence source."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        words: set = set()
        while len(words) < VOCAB_SIZE:
            n = int(rng.integers(2, 12))
            words.add("".join(rng.choice(_LETTERS, size=n, p=_LETTER_P)))
        self.vocab = sorted(words)
        rng.shuffle(self.vocab)
        self.vocab_cdf = _zipf_cdf(VOCAB_SIZE, 1.07)
        kanji = _jis_kanji()
        rng.shuffle(kanji)
        self.kanji = kanji[:2500]
        self.kanji_cdf = _zipf_cdf(len(self.kanji), 1.0)
        self.kana_cdf = _zipf_cdf(len(_HIRAGANA), 0.8)

    def en_words(self, n: int) -> list:
        """``n`` words, ~35% stopwords, the rest zipf-drawn."""
        rng = self.rng
        stop = rng.random(n) < 0.35
        idx = _draw(rng, self.vocab_cdf, n)
        stops = rng.integers(0, len(STOPWORDS), n)
        vocab = self.vocab
        return [
            STOPWORDS[s] if is_stop else vocab[i]
            for is_stop, i, s in zip(stop.tolist(), idx.tolist(), stops.tolist())
        ]

    def en_text(self, n_words: int) -> str:
        """Sentences of 6-18 words, capitalized, ending in a period, until
        at least ``n_words`` words."""
        lens = self.rng.integers(6, 19, n_words // 6 + 1).tolist()
        words = self.en_words(sum(lens))
        out, pos = [], 0
        for n in lens:
            sent = words[pos : pos + n]
            pos += n
            out.append(sent[0].capitalize() + " " + " ".join(sent[1:]) + ".")
            if pos >= n_words:
                break
        return " ".join(out)

    def ja_text(self, n_chars: int) -> str:
        """Sentences of 12-40 kana/kanji ending in 。！？, until at least
        ``n_chars`` characters."""
        rng = self.rng
        lens = rng.integers(12, 41, n_chars // 12 + 1).tolist()
        total = sum(lens)
        kind = rng.random(total).tolist()
        kana = _draw(rng, self.kana_cdf, total).tolist()
        kata = rng.integers(0, len(_KATAKANA), total).tolist()
        kan = _draw(rng, self.kanji_cdf, total).tolist()
        ends = rng.random(len(lens)).tolist()
        kanji = self.kanji
        chars = [
            kanji[k] if u < 0.3 else _KATAKANA[t] if u < 0.45 else _HIRAGANA[h]
            for u, h, t, k in zip(kind, kana, kata, kan)
        ]
        out, pos = [], 0
        for n, e in zip(lens, ends):
            out.append("".join(chars[pos : pos + n]) + ("。" if e < 0.8 else "！" if e < 0.9 else "？"))
            pos += n + 1
            if pos >= n_chars:
                break
        return "".join(out)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), stream])


def write_parquet(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``path`` (a
    directory) or as one file at ``path`` when ``n_files`` is 1."""
    if n_files == 1:
        pq.write_table(table, path, coerce_timestamps="us")
        return
    import os

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            table.slice(k * step, step),
            f"{path}/part-{k:03d}.parquet",
            coerce_timestamps="us",
        )


# ---------------------------------------------------------------------------
# pages: the crawl table of the extract_resume workload
# ---------------------------------------------------------------------------

N_HOSTS = 200
PAGE_MIN_KB, PAGE_MAX_KB = 2.0, 60.0
PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Pages:
    table: pa.Table
    # url -> expected extraction status, for every page whose status is not
    # "ok" (decode_error for malformed bytes, no_content for chrome-only)
    status: dict = field(default_factory=dict)


def _chrome(rng: np.random.Generator, prose: Prose, host: str) -> tuple:
    nav = "".join(
        f'<a href="/s/{i}">{prose.vocab[int(rng.integers(0, 500))]}</a> '
        for i in range(int(rng.integers(4, 12)))
    )
    ads = "".join(
        f'<a href="/ad/{i}">buy {prose.vocab[int(rng.integers(0, 500))]} now</a>'
        for i in range(int(rng.integers(2, 6)))
    )
    head = (
        "<head>{meta}<title>page</title><style>.a{{color:red}} p{{margin:0}}</style>"
        "<script>var x = 1; if (x < 2) {{ x = '<p>not text</p>'; }}</script></head>"
    )
    top = (
        f"<body><!-- crawl {host} --><nav><div>{nav}</div></nav>"
        f"<header><div>site {host}</div></header><article>"
    )
    bottom = (
        f'</article><div class="ads">{ads}</div>'
        f"<footer><div>copyright {host} <a href='/tos'>terms</a></div></footer>"
        "</body></html>"
    )
    return head, top, bottom


def make_pages(seed: int, n: int) -> Pages:
    """``n`` pages: zipf hosts, ~20% Japanese (a third each UTF-8,
    Shift_JIS and EUC-JP, the legacy ones declared by a meta charset),
    ~2% malformed bytes, ~1% chrome-only pages, html sizes log-uniform in
    [PAGE_MIN_KB, PAGE_MAX_KB] KiB."""
    rng = _rng(seed, 1)
    prose = Prose(_rng(seed, 2))
    # paragraphs are drawn from seeded pools: pages repeat paragraphs, which
    # extraction does not care about, and generation stays fast at MBs
    en_pool = [prose.en_text(int(k)) for k in rng.integers(30, 120, 1500)]
    ja_pool = [prose.ja_text(int(k)) for k in rng.integers(60, 300, 500)]
    host_cdf = _zipf_cdf(N_HOSTS, 1.2)
    epoch = dt.datetime(2024, 1, 1)
    urls, stamps, htmls, texts, langs = [], [], [], [], []
    status: dict = {}
    for i in range(n):
        host = f"host{int(_draw(rng, host_cdf, 1)[0]):03d}.example.jp"
        url = f"https://{host}/p/{i:07d}"
        ts = epoch + dt.timedelta(seconds=int(rng.integers(0, 365 * 86400)))
        kind = rng.random()
        target = float(np.exp(rng.uniform(np.log(PAGE_MIN_KB), np.log(PAGE_MAX_KB)))) * 1024
        head, top, bottom = _chrome(rng, prose, host)
        if kind < 0.02:  # malformed: bytes no supported charset decodes
            junk = en_pool[int(rng.integers(0, len(en_pool)))][:80].encode()
            body = b"<html><body><p>" + (junk + b" \xff\xfe\x80 ") * 4 + b"</p></body></html>"
            urls.append(url), stamps.append(ts), htmls.append(body)
            texts.append(""), langs.append("und")
            status[url] = "decode_error"
            continue
        if kind < 0.03:  # chrome only: nothing survives the block classifier
            page = "<html>" + head.format(meta="", host=host) + top + bottom
            urls.append(url), stamps.append(ts), htmls.append(page.encode())
            texts.append(""), langs.append("en")
            status[url] = "no_content"
            continue
        is_ja = kind < 0.23
        title = f"記事 {i}" if is_ja else f"Article {i} on {host}"
        paras: list = []
        size = len(head) + len(top) + len(bottom) + len(title)
        pool, width = (ja_pool, 3) if is_ja else (en_pool, 1)
        while size < target or not paras:
            p = pool[int(rng.integers(0, len(pool)))]
            size += width * len(p) + 7
            paras.append(p)
        blocks = []
        for p in paras:
            if not is_ja and rng.random() < 0.2:
                # an in-content link: stays part of the paragraph's text
                cut = p.index(" ", len(p) // 2)
                word_end = p.find(" ", cut + 1)
                word_end = len(p) if word_end < 0 else word_end
                blocks.append(
                    f"<p>{html_mod.escape(p[:cut + 1])}"
                    f'<a href="/w/{i}">{html_mod.escape(p[cut + 1:word_end])}</a>'
                    f"{html_mod.escape(p[word_end:])}</p>"
                )
            else:
                blocks.append(f"<p>{html_mod.escape(p)}</p>")
        enc, meta = "utf-8", ""
        if is_ja:
            u = rng.random()
            if u < 1 / 3:
                enc, meta = "shift_jis", '<meta charset="Shift_JIS">'
            elif u < 2 / 3:
                enc = "euc_jp"
                meta = '<meta http-equiv="Content-Type" content="text/html; charset=EUC-JP">'
        page = (
            "<html>" + head.format(meta=meta, host=host) + top
            + f"<h1>{html_mod.escape(title)}</h1>" + "".join(blocks) + bottom
        )
        urls.append(url), stamps.append(ts), htmls.append(page.encode(enc))
        texts.append("\n\n".join([title] + paras)), langs.append("ja" if is_ja else "en")
    table = pa.table(
        [urls, stamps, htmls, texts, langs], schema=PAGES_SCHEMA
    )
    return Pages(table=table, status=status)


# ---------------------------------------------------------------------------
# texts: the extracted-text table of the curate probe
# ---------------------------------------------------------------------------


EXACT_FRAC, NEAR_FRAC = 0.05, 0.10  # planted exact copies, near-duplicates


@dataclass
class Texts:
    table: pa.Table
    exact_copies: set  # urls whose text repeats an earlier (smaller) url
    near_pairs: list  # (original url, near-duplicate url)
    short: set  # urls the quality gate must drop (< 50 chars)


def make_texts(seed: int, n: int) -> Texts:
    """``n`` rows: originals (~80% English-like, ~20% Japanese, ~3% too
    short to pass the quality gate), then planted exact copies and
    near-duplicates (a few words replaced) of distinct long originals. Urls
    are shuffled so copies are not always the larger url of their pair."""
    rng = _rng(seed, 3)
    prose = Prose(_rng(seed, 4))
    n_exact = int(n * EXACT_FRAC)
    n_near = int(n * NEAR_FRAC)
    n_orig = n - n_exact - n_near
    texts, short = [], set()
    for i in range(n_orig):
        u = rng.random()
        if u < 0.03:
            texts.append(prose.en_text(1)[:40])
            short.add(i)
        elif u < 0.23:
            texts.append(prose.ja_text(int(rng.integers(300, 1500))))
        else:
            texts.append(prose.en_text(int(rng.integers(80, 400))))
    long_ids = [i for i in range(n_orig) if i not in short]
    picks = rng.choice(len(long_ids), size=n_exact + n_near, replace=False)
    sources = [long_ids[k] for k in picks]
    for src in sources[:n_exact]:
        texts.append(texts[src])
    for src in sources[n_exact:]:
        words = texts[src].split(" ")
        if len(words) > 20:
            for k in rng.choice(len(words), size=max(1, len(words) // 40), replace=False):
                words[k] = prose.vocab[int(rng.integers(0, len(prose.vocab)))]
            texts.append(" ".join(words))
        else:  # Japanese: replace a few characters
            chars = list(texts[src])
            for k in rng.choice(len(chars), size=max(1, len(chars) // 60), replace=False):
                chars[k] = prose.kanji[int(rng.integers(0, len(prose.kanji)))]
            texts.append("".join(chars))
    perm = rng.permutation(n)
    urls = [f"https://doc{int(perm[i]):07d}.example.org/" for i in range(n)]
    exact_copies = set()
    for k, src in enumerate(sources[:n_exact]):
        a, b = urls[src], urls[n_orig + k]
        exact_copies.add(max(a, b))
    near_pairs = [
        (urls[src], urls[n_orig + n_exact + k]) for k, src in enumerate(sources[n_exact:])
    ]
    table = pa.table({"url": urls, "text": texts})
    return Texts(
        table=table,
        exact_copies=exact_copies,
        near_pairs=near_pairs,
        short={urls[i] for i in short},
    )


# ---------------------------------------------------------------------------
# tables: the inputs of the headline queries (sf0.1 fixture shapes)
# ---------------------------------------------------------------------------

# sf0.1 row counts
N_CUSTOMER, N_ORDERS, N_LINEITEM = 15_000, 150_000, 600_000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS = 100_000, 5_000, 2_000
N_PARTS, N_SUPPLIERS, N_USERS = 20_000, 1_000, 1_500
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "error", "signup"]
# the fixture's documents: uniform draws from this 30-word vocabulary, with
# ~5% near-duplicates (another document's text plus " dup")
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_DOC_LANGS, _DOC_LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
DOC_DUP_FRAC = 0.05


def _days(rng: np.random.Generator, start: str, end: str, k: int) -> np.ndarray:
    """``k`` midnights drawn uniformly from [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, k) * 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _documents(rng: np.random.Generator) -> list:
    vocab = np.array(_DOC_WORDS)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(k))])
        for k in rng.integers(10, 100, N_DOCUMENTS)
    ]
    dups = rng.choice(N_DOCUMENTS, size=int(N_DOCUMENTS * DOC_DUP_FRAC), replace=False)
    for i, j in zip(dups.tolist(), rng.integers(0, N_DOCUMENTS, len(dups)).tolist()):
        texts[i] = texts[j] + " dup"
    return texts


def make_tables(seed: int, out_dir: str) -> dict:
    """Write customer, orders, lineitem, events, documents and embeddings
    parquet files (one file, one row group each, like the fixture) under
    ``out_dir``; returns {table: row count}. Keys and values are drawn
    uniformly over the fixture's ranges and domains."""
    rng = _rng(seed, 5)
    cust = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-1000.0, 10_000.0, N_CUSTOMER), 2),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", N_ORDERS)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        }
    )
    # ship dates: an order date plus 1-95 days, independent of l_orderkey
    ship = _days(rng, "1995-01-01", "2001-08-01", N_LINEITEM) + rng.integers(
        1, 96, N_LINEITEM
    ) * 86_400_000_000
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PARTS, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _ts(ship),
        }
    )
    ev_ts = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64) + np.sort(
        rng.integers(0, 30 * 86_400_000_000, N_EVENTS)
    )
    events = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    doc_text = _documents(rng)
    documents = pa.table(
        {
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": doc_text,
            "lang": rng.choice(_DOC_LANGS, size=N_DOCUMENTS, p=_DOC_LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in doc_text], dtype=np.int64),
        }
    )
    emb = rng.normal(0.0, 1.0, (N_EMBEDDINGS, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
        }
    )
    out = {
        "customer": cust,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }
    for name, table in out.items():
        write_parquet(table, f"{out_dir}/{name}.parquet")
    return {name: table.num_rows for name, table in out.items()}
