"""Seeded workload inputs, cached on disk under the work directory by
workload, seed and size, so a repeated seed skips generation.

* ``article_pages``: ``corpus.synth_page`` article pages (~55 KB,
  log-normal). The page ids are chosen so that the page sizes sit on
  the generator's own size quantiles: the pages of every seed then
  carry about the same bytes, and a throughput figure moves with the
  code, not with how many large pages a seed happened to draw.
* ``small_pages``: small (2-8 KB) multilingual, tag- and link-dense
  pages plus a slice of degenerate rows, generated here.
* ``operator_tables``: the ``documents`` and ``embeddings`` tables the
  operator queries read, generated here with a fixed data seed (the
  benchmark seed only permutes query order).
"""

from __future__ import annotations

import bisect
import math
import random
import shutil
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import WORK

# corpus.synth_page draws its body size first, from this log-normal,
# clamped to [2 KB, 900 KB]; the selection below predicts sizes from
# that first draw (if the generator changes, selection gets less even
# but every chosen page is still a real synth_page page)
_MU, _SIGMA = 10.6, 0.7
_LO, _HI = 2_000, 900_000


def _cached(name: str, build) -> str:
    path = WORK / "inputs" / name
    if not (path / "_READY").exists():
        if path.exists():
            shutil.rmtree(path)
        path.mkdir(parents=True)
        build(path)
        (path / "_READY").write_text("ok\n")
    return str(path)


def _predicted_size(seed: int, i: int) -> int:
    rng = random.Random(f"{seed}:{i}")
    return min(max(int(rng.lognormvariate(_MU, _SIGMA)), _LO), _HI)


def article_ids(seed: int, n: int, pool_factor: int = 8) -> list[int]:
    """n synth_page ids whose predicted sizes match the n quantiles of
    the generator's size distribution (nearest unused candidate from a
    seeded pool of ``pool_factor * n`` ids)."""
    base = random.Random(f"perfbench-articles:{seed}").randrange(1 << 30)
    pool = sorted((_predicted_size(seed, base + k), base + k) for k in range(pool_factor * n))
    sizes = [s for s, _ in pool]
    used = [False] * len(pool)
    nd = NormalDist(_MU, _SIGMA)
    chosen = []
    for j in range(n):
        target = min(max(math.exp(nd.inv_cdf((j + 0.5) / n)), _LO), _HI)
        pos = bisect.bisect_left(sizes, target)
        lo, hi = pos - 1, pos
        while lo >= 0 and used[lo]:
            lo -= 1
        while hi < len(pool) and used[hi]:
            hi += 1
        if hi >= len(pool) or (lo >= 0 and target - sizes[lo] <= sizes[hi] - target):
            pick = lo
        else:
            pick = hi
        used[pick] = True
        chosen.append(pool[pick][1])
    random.Random(seed).shuffle(chosen)
    return chosen


def _write_hashed(spark, table: pa.Table, path) -> None:
    """The write_pages_parquet layout: files are url-hash buckets."""
    from pyspark.sql import functions as F

    n = table.num_rows
    nb = min(max(64, spark.sparkContext.defaultParallelism * 2), max(n // 16, 1))
    df = spark.createDataFrame(table)
    df.repartition(nb, F.xxhash64("url")).write.mode("overwrite").parquet(str(path))


def _write_bucketed(spark, table: pa.Table, path, buckets: int,
                    files_per_bucket: int = 4) -> None:
    """The write_bucketed_pages layout: hive ``bucket=k`` directories
    with ``bucket = pmod(xxhash64(url), buckets)``."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(table).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(buckets)).cast("int")
    )
    df.repartition(buckets * files_per_bucket, F.col("bucket"), F.xxhash64("url")).write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(str(path))


def _pages_table(urls, htmls) -> pa.Table:
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "html": pa.array(htmls, pa.binary()),
            "lang": pa.array(["und"] * len(urls), pa.string()),
        }
    )


def article_pages(spark, seed: int, n: int) -> str:
    """Parquet path of n article pages in the hashed-file layout."""
    from dce_spark.spark.corpus import synth_page

    def build(path):
        pages = [synth_page(i, seed) for i in article_ids(seed, n)]
        table = _pages_table([p["url"] for p in pages], [p["html"] for p in pages])
        _write_hashed(spark, table, path / "data")

    return _cached(f"articles-s{seed}-n{n}", build) + "/data"


def bucketed_copy(spark, name: str, urls, htmls, buckets: int) -> str:
    """Pre-bucketed (hive layout) copy of the given pages."""

    def build(path):
        _write_bucketed(spark, _pages_table(urls, htmls), path / "data", buckets)

    return _cached(f"{name}-b{buckets}", build) + "/data"


def read_pages(path: str) -> tuple[list[str], list]:
    """(urls, htmls) of every page under a parquet path, bucket layout
    included; html may be None."""
    t = pq.read_table(path, columns=["url", "html"])
    return t.column("url").to_pylist(), t.column("html").to_pylist()


# ---- small multilingual pages -------------------------------------------

_LATIN = (
    "market energy report city council budget school river bridge music "
    "festival weather storm harbor museum library transit station ferry "
    "garden bakery"
).split()
_CYRILLIC = (
    "рынок энергия отчёт город совет бюджет школа река мост музыка "
    "фестиваль погода шторм гавань музей"
).split()
_ARABIC = (
    "السوق الطاقة تقرير المدينة المجلس الميزانية المدرسة النهر الجسر "
    "الموسيقى المهرجان الطقس"
).split()
_EMOJI = ["👩‍💻", "👨‍👩‍👧", "🧑‍🔬", "🏳️‍🌈", "👩🏽‍🚀", "❤️", "🇯🇵"]


def _han(rng: random.Random, n: int) -> str:
    return "".join(chr(0x4E00 + rng.randrange(0x51A5)) for _ in range(n))


def _sentence(rng: random.Random, script: str) -> str:
    if script == "cjk":
        s = _han(rng, rng.randrange(12, 40)) + "。"
    else:
        words = {"latin": _LATIN, "cyrillic": _CYRILLIC, "arabic": _ARABIC}[script]
        s = " ".join(rng.choice(words) for _ in range(rng.randrange(8, 22))) + "."
    if rng.random() < 0.3:
        s += " " + rng.choice(_EMOJI)
    return s


def _small_page(rng: random.Random, i: int, target: int) -> tuple[str, bytes]:
    script = ("latin", "cjk", "cyrillic", "arabic")[i % 4]
    host = f"site-{rng.randrange(400)}.example.net"
    nav = "".join(
        f'<li><a href="/c/{rng.randrange(999)}">{_sentence(rng, script)[:12]}</a></li>'
        for _ in range(rng.randrange(6, 16))
    )
    body: list[str] = []
    size = len(nav)
    while size < target:
        k = rng.randrange(4)
        if k == 0:
            frag = f"<p>{_sentence(rng, script)} {_sentence(rng, script)}</p>"
        elif k == 1:
            frag = (
                f'<p>{_sentence(rng, script)} <a href="https://{host}/p/{rng.randrange(10**6)}">'
                f"{_sentence(rng, script)[:20]}</a> <b>{_sentence(rng, script)[:15]}</b></p>"
            )
        elif k == 2:
            frag = "<ul>" + "".join(
                f'<li><a href="/t/{rng.randrange(999)}">{_sentence(rng, script)[:10]}</a></li>'
                for _ in range(4)
            ) + "</ul>"
        else:
            frag = f"<div><span>{_sentence(rng, script)}</span><i>{rng.choice(_EMOJI)}</i></div>"
        body.append(frag)
        size += len(frag.encode("utf-8"))
    dir_attr = ' dir="rtl"' if script == "arabic" else ""
    html = (
        f"<!DOCTYPE html><html{dir_attr}><head><title>{_sentence(rng, script)[:30]}</title>"
        f"<script>var t={rng.randrange(10**6)};</script></head><body>"
        f"<nav><ul>{nav}</ul></nav><main><article>{''.join(body)}</article></main>"
        f"<footer><a href='/about'>about</a> <a href='/legal'>legal</a></footer></body></html>"
    )
    return f"https://{host}/{script}/{i}", html.encode("utf-8")


def _degenerate_page(rng: random.Random, i: int) -> tuple[str, bytes | None]:
    kind = i % 8
    body: bytes | None
    if kind == 0:
        body = b""
    elif kind == 1:
        body = None
    elif kind == 2:
        body = b"<html><body><script>var x = 1;</script></body></html>"
    elif kind == 3:
        body = b"<<<>>>" * rng.randrange(1, 50)
    elif kind == 4:
        body = ("<div>" * rng.randrange(100, 600) + "deep " + _sentence(rng, "latin")).encode()
    elif kind == 5:
        body = b"\xff\xfe<p>" + _sentence(rng, "cyrillic").encode() + b"\xc3\x28</p>"
    elif kind == 6:
        body = ("Plain text " + _sentence(rng, "arabic")).encode("utf-8")
    else:
        body = ("<p>" + "".join(rng.choice(_EMOJI) for _ in range(200)) + "</p>").encode()
    return f"https://degenerate.test/{kind}/{i}", body


def small_pages(seed: int, n: int, degenerate_share: float = 0.05):
    """(urls, htmls) of n small pages: sizes evenly spread over 2-8 KB
    (the same sizes for every seed, shuffled by it) and a degenerate
    slice of empty, null, script-only, malformed, deeply nested,
    invalid-UTF-8, plain-text and emoji-only rows."""
    rng = random.Random(f"perfbench-small:{seed}")
    n_bad = int(n * degenerate_share)
    targets = [2_000 + (6_000 * (j + 0.5)) // (n - n_bad) for j in range(n - n_bad)]
    rng.shuffle(targets)
    rows = [_small_page(rng, i, int(t)) for i, t in enumerate(targets)]
    rows += [_degenerate_page(rng, i) for i in range(n_bad)]
    rng.shuffle(rows)
    return [u for u, _ in rows], [h for _, h in rows]


# ---- operator tables -------------------------------------------------------

_DOC_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en"] * 9 + ["zh"] * 3 + ["es"] * 3 + ["de"] * 3 + ["fr"] * 3
DATA_SEED = 42


def operator_tables(n_docs: int, n_vecs: int, dim: int = 64) -> str:
    """Directory with documents.parquet and embeddings.parquet.

    documents(doc_id, text, lang, source, n_chars): word-salad texts over
    a 30-word vocabulary, 20 sources; every 10th document is a one-word
    edit of an earlier one so the dedup operators find near-duplicates.
    embeddings(vec_id, embedding, label): unit vectors around 10 random
    centres; every 12th vector is a small perturbation of an earlier
    one (cosine >= 0.95)."""

    def build(path):
        rng = random.Random(DATA_SEED)
        texts: list[str] = []
        for d in range(n_docs):
            if d >= 20 and d % 10 == 0:
                words = texts[rng.randrange(d)].split()
                words[rng.randrange(len(words))] = "dup"
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randrange(8, 100))))
        docs = pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
                "source": [f"src{d % 20}" for d in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        )
        pq.write_table(docs, path / "documents.parquet")

        def unit(v):
            norm = math.sqrt(sum(x * x for x in v))
            return [x / norm for x in v]

        centres = [unit([rng.gauss(0, 1) for _ in range(dim)]) for _ in range(10)]
        vecs, labels = [], []
        for k in range(n_vecs):
            if k >= 12 and k % 12 == 0:
                j = rng.randrange(k)
                vecs.append(unit([x + rng.gauss(0, 0.02) for x in vecs[j]]))
                labels.append(labels[j])
            else:
                c = rng.randrange(10)
                vecs.append(unit([x + rng.gauss(0, 0.12) for x in centres[c]]))
                labels.append(c)
        emb = pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        )
        pq.write_table(emb, path / "embeddings.parquet")

    return _cached(f"tables-d{n_docs}-v{n_vecs}-s{DATA_SEED}", build)
