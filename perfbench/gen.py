"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, shape)``: the same seed gives
byte-identical parquet, another seed gives different inputs of the same
shape. The program under test only ever sees the parquet written here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word pool in the style of the sf0.1 ``documents`` table.
VOCAB = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data join the "
    "customer vector index shard crawl page link frontier robots host domain "
    "fetch parse text token score dedup cluster embed rank claim lease"
).split()

HOT_DOMAIN = "hotshop.com"
_TLDS = ("com", "org", "net", "co.uk", "de", "io")
_NAV_PATHS = ("", "/about", "/contact", "/category/news", "/category/deals")
# Path sections and their weights; robots rules below disallow some of them.
_SECTIONS = ("a", "b", "c", "d", "private", "private/open", "tmp", "cart")
_SECTION_W = np.array([0.3, 0.25, 0.15, 0.12, 0.06, 0.04, 0.04, 0.04])
_ROBOTS = (
    "User-agent: *\nDisallow: /private\n",
    "User-agent: *\nDisallow: /private\nAllow: /private/open\n",
    None,  # no robots row: allow all
    "User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /tmp\n",
)
_HOT_ROBOTS = "User-agent: *\nDisallow: /cart\n"


def write_parquet(table: pa.Table, path: str, files: int = 1) -> None:
    """Write ``table`` as ``files`` parquet files under directory ``path``
    (one scan partition per file), or as the single file ``path``."""
    if files == 1:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _words(rng: np.random.Generator, n: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


# ---------------------------------------------------------------------------
# crawl: page graph + robots table + seed list
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CrawlShape:
    pages: int = 20_000  # content pages; every host also has 5 nav pages
    domains: int = 60  # registrable domains besides the hot one
    hot_share: float = 0.35  # share of content pages under HOT_DOMAIN
    seeds: int = 600
    links: tuple[int, int] = (4, 14)  # content links per page, inclusive
    share_404: float = 0.04
    share_5xx: float = 0.03
    share_403: float = 0.005
    share_redirect: float = 0.05
    share_dead_link: float = 0.03  # hrefs to urls with no page row


@dataclass
class CrawlInputs:
    pages: pa.Table  # url, html, status_code, content_type, loaded_url
    robots: pa.Table  # host, robots_txt
    seeds: list[str]


def crawl_hosts(shape: CrawlShape) -> tuple[list[str], list[str | None]]:
    hosts = [f"{h}.{HOT_DOMAIN}" for h in ("www", "m", "blog", "shop")]
    rules: list[str | None] = [_HOT_ROBOTS] * 4
    for k in range(shape.domains):
        domain = f"site{k}.{_TLDS[k % len(_TLDS)]}"
        for sub in ("www", "news") if k % 3 == 0 else ("www",):
            hosts.append(f"{sub}.{domain}")
            rules.append(_ROBOTS[len(hosts) % len(_ROBOTS)])
    return hosts, rules


def crawl_inputs(seed: int, shape: CrawlShape = CrawlShape()) -> CrawlInputs:
    rng = np.random.default_rng([seed, 1])
    hosts, rules = crawl_hosts(shape)
    n_hot = 4
    n = shape.pages
    # host of each content page: hot share on the hot domain, the rest
    # Zipf-weighted over the other hosts
    w = 1.0 / np.arange(1, len(hosts) - n_hot + 1) ** 0.8
    other = n_hot + rng.choice(len(hosts) - n_hot, n, p=w / w.sum())
    host_of = np.where(rng.random(n) < shape.hot_share, rng.integers(0, n_hot, n), other)
    section = rng.choice(len(_SECTIONS), n, p=_SECTION_W / _SECTION_W.sum())
    slug = rng.integers(0, len(VOCAB), n)
    urls = [
        f"https://{hosts[h]}/{_SECTIONS[s]}/{VOCAB[w]}-{i}"
        for i, (h, s, w) in enumerate(zip(host_of, section, slug))
    ]
    by_host = [np.flatnonzero(host_of == h) for h in range(len(hosts))]

    u = rng.random(n)
    status = np.full(n, 200)
    bounds = np.cumsum([shape.share_404, shape.share_5xx, shape.share_403, shape.share_redirect])
    status[u < bounds[0]] = 404
    fivexx = (u >= bounds[0]) & (u < bounds[1])
    status[fivexx] = np.where(rng.random(n) < 0.5, 500, 503)[fivexx]
    status[(u >= bounds[1]) & (u < bounds[2])] = 403
    redirect = (u >= bounds[2]) & (u < bounds[3])
    pdf_type = rng.random(n) < 0.01
    n_par = np.clip(np.rint(rng.lognormal(1.3, 0.9, n)), 1, 80).astype(int)
    n_links = rng.integers(shape.links[0], shape.links[1] + 1, n)

    # all link draws at once: one row per href, in page order
    n_l = int(n_links.sum())
    src = np.repeat(host_of, n_links)
    pool_len = np.array([len(p) for p in by_host])[src]
    same = (rng.random(n_l) < 0.65) & (pool_len > 0)
    pool_pick = (rng.random(n_l) * np.maximum(pool_len, 1)).astype(int)
    target = rng.integers(0, n, n_l)
    pool_start = np.concatenate([[0], np.cumsum([len(p) for p in by_host])])[src]
    flat_pool = np.concatenate(by_host)
    target = np.where(same, flat_pool[np.minimum(pool_start + pool_pick, len(flat_pool) - 1)], target)
    dead = rng.random(n_l) < shape.share_dead_link
    relative = (host_of[target] == src) & (rng.random(n_l) < 0.5)
    suffix = np.array(["#section", "?utm_source=newsletter", ""])[
        np.searchsorted([0.1, 0.15], rng.random(n_l), side="right")
    ]
    dead_ids = rng.integers(0, 1 << 30, n_l)
    hrefs = []
    for t, d, rel, suf, g in zip(
        target.tolist(), dead.tolist(), relative.tolist(), suffix.tolist(), dead_ids.tolist()
    ):
        if d:
            hrefs.append(f"/gone/{g}")
            continue
        t_url = urls[t]
        hrefs.append((t_url[t_url.index("/", 8):] if rel else t_url) + suf)

    n_words = rng.integers(10, 31, int(n_par.sum()))
    word_ids = rng.integers(0, len(VOCAB), int(n_words.sum()))
    words = [VOCAB[w] for w in word_ids.tolist()]
    word_start = [0, *np.cumsum(n_words).tolist()]
    par_start = [0, *np.cumsum(n_par).tolist()]
    link_start = [0, *np.cumsum(n_links).tolist()]

    def nav(h: int) -> str:
        return "".join(f'<a href="https://{hosts[h]}{p}">{p or "home"}</a> ' for p in _NAV_PATHS)

    navs = [nav(h) for h in range(len(hosts))]
    rows_url, rows_html, rows_status, rows_ct, rows_loaded = [], [], [], [], []
    slugs = [VOCAB[s] for s in slug.tolist()]
    redirect, pdf_type = redirect.tolist(), pdf_type.tolist()
    for i, (h, st) in enumerate(zip(host_of.tolist(), status.tolist())):
        ws = word_start[par_start[i]]
        if st != 200:
            body = f"<html><body><h1>Error {st}</h1><p>{' '.join(words[ws:ws + 8])}</p></body></html>"
        else:
            links = hrefs[link_start[i]:link_start[i + 1]]
            paras = []
            for k, p in enumerate(range(par_start[i], par_start[i + 1])):
                text = " ".join(words[word_start[p]:word_start[p + 1]])
                if k < len(links):
                    text += f' <a href="{links[k]}">{VOCAB[k % len(VOCAB)]}</a>'
                paras.append(f"<p>{text}</p>")
            extra = "".join(f'<li><a href="{x}">more</a></li>' for x in links[len(paras):])
            body = (
                f"<html><head><title>{slugs[i]}</title><style>.n{{}}</style></head><body>"
                f"<nav>{navs[h]}</nav><h1>{slugs[i]} {i}</h1>{''.join(paras)}"
                f"<ul>{extra}</ul><script>track({i});</script><footer>{hosts[h]}</footer>"
                "</body></html>"
            )
        rows_url.append(urls[i])
        rows_html.append(body.encode())
        rows_status.append(st)
        rows_ct.append("application/pdf" if pdf_type[i] else "text/html; charset=utf-8")
        rows_loaded.append(
            f"https://{hosts[h]}/moved/{slugs[i]}-{i}" if redirect[i] else urls[i]
        )
    # nav pages: hubs linking into their host's content
    for h, host in enumerate(hosts):
        pool = by_host[h]
        for p in _NAV_PATHS:
            picks = pool[rng.integers(0, len(pool), 20)] if len(pool) else []
            hub = "".join(f'<li><a href="{urls[int(t)]}">{VOCAB[int(t) % len(VOCAB)]}</a></li>' for t in picks)
            rows_url.append(f"https://{host}{p}")
            rows_html.append(
                f"<html><body><nav>{navs[h]}</nav><h1>{host}{p}</h1><ul>{hub}</ul></body></html>".encode()
            )
            rows_status.append(200)
            rows_ct.append("text/html; charset=utf-8")
            rows_loaded.append(f"https://{host}{p}")
    pages = pa.table(
        {
            "url": pa.array(rows_url, pa.string()),
            "html": pa.array(rows_html, pa.binary()),
            "status_code": pa.array(rows_status, pa.int32()),
            "content_type": pa.array(rows_ct, pa.string()),
            "loaded_url": pa.array(rows_loaded, pa.string()),
        }
    )
    robots = pa.table(
        {
            "host": pa.array([h for h, r in zip(hosts, rules) if r is not None], pa.string()),
            "robots_txt": pa.array([r for r in rules if r is not None], pa.string()),
        }
    )
    # seeds: the home pages, then random content pages, in seeded order
    seeds = [f"https://{h}" for h in hosts]
    seeds += [urls[int(t)] for t in rng.integers(0, n, max(0, shape.seeds - len(seeds)))]
    return CrawlInputs(pages, robots, seeds[: shape.seeds])


# ---------------------------------------------------------------------------
# churn: frontier preload + candidate batches with known fresh counts
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class ChurnShape:
    preload: int = 100_000
    batch: int = 25_000  # candidate rows per cycle
    seen_share: float = 0.5  # share of a batch's distinct urls already in the frontier
    dup_share: float = 0.2  # share of a batch's rows repeating another row of it
    domains: int = 200  # registrable domains; one of them is hot


class ChurnStream:
    """Candidate batches over an integer url-id universe.

    Ids below ``next_id`` are in the frontier (the preload plus every earlier
    batch's fresh ids, all committed), so the generator knows exactly how
    many new distinct urls each batch carries."""

    def __init__(self, seed: int, shape: ChurnShape = ChurnShape()):
        self.shape = shape
        self.rng = np.random.default_rng([seed, 2])
        w = 1.0 / np.arange(1, shape.domains + 1) ** 0.7
        w[0] = w.sum() * 0.3 / 0.7  # the hot domain takes 30% of urls
        self.hosts = [f"www.d{k}.{_TLDS[k % len(_TLDS)]}" for k in range(shape.domains)]
        # id -> host through a seeded lookup table (hosts spread over ids)
        self._host_table = self.rng.choice(shape.domains, 9973, p=w / w.sum())
        self.next_id = shape.preload

    def url(self, ids: np.ndarray) -> list[str]:
        hosts, table = self.hosts, self._host_table
        return [f"https://{hosts[table[i % 9973]]}/item/{i}" for i in ids.tolist()]

    def preload(self) -> pa.Table:
        return pa.table({"url": pa.array(self.url(np.arange(self.shape.preload)), pa.string())})

    def next_batch(self) -> tuple[pa.Table, int]:
        """(candidate ``url`` table, number of fresh distinct urls in it)."""
        s, rng = self.shape, self.rng
        n_dup = int(s.batch * s.dup_share)
        n_distinct = s.batch - n_dup
        n_seen = int(n_distinct * s.seen_share)
        n_new = n_distinct - n_seen
        seen = rng.choice(self.next_id, n_seen, replace=False)
        new = np.arange(self.next_id, self.next_id + n_new)
        self.next_id += n_new
        distinct = np.concatenate([seen, new])
        urls = self.url(distinct)
        # duplicates: exact repeats and normalization variants of batch rows
        variants = (
            lambda u: u,
            lambda u: u.replace("https://www.", "HTTPS://WWW."),
            lambda u: u + "#top",
            lambda u: u + "?utm_source=feed",
            lambda u: u + "/",
        )
        picks = rng.integers(0, n_distinct, n_dup)
        kinds = rng.integers(0, len(variants), n_dup)
        urls += [variants[k](urls[p]) for p, k in zip(picks.tolist(), kinds.tolist())]
        order = rng.permutation(len(urls))
        return pa.table({"url": pa.array([urls[i] for i in order], pa.string())}), n_new


# ---------------------------------------------------------------------------
# corpus: documents + embeddings in the sf0.1 schema
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class CorpusShape:
    docs: int = 10_000
    vectors: int = 5_000
    dim: int = 64
    words: tuple[int, int] = (10, 90)  # per document, inclusive
    dup_share: float = 0.05  # documents copying an earlier document's text


@dataclass
class CorpusInputs:
    documents: pa.Table  # doc_id, text, lang, source, n_chars
    embeddings: pa.Table  # vec_id, embedding, label
    distinct_texts: int


def corpus_inputs(seed: int, shape: CorpusShape = CorpusShape()) -> CorpusInputs:
    rng = np.random.default_rng([seed, 3])
    texts = [_words(rng, int(k)) for k in rng.integers(shape.words[0], shape.words[1] + 1, shape.docs)]
    dups = np.flatnonzero(rng.random(shape.docs) < shape.dup_share)
    for d in dups[dups > 0].tolist():
        texts[d] = texts[int(rng.integers(0, d))]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(shape.docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(
                [("en", "de", "fr", "zh", "cs")[k] for k in rng.integers(0, 5, shape.docs)], pa.string()
            ),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 10, shape.docs)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centers = rng.normal(0, 1, (10, shape.dim))
    label = rng.integers(0, 10, shape.vectors)
    vecs = centers[label] + rng.normal(0, 0.8, (shape.vectors, shape.dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(shape.vectors), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return CorpusInputs(documents, embeddings, len(set(texts)))
