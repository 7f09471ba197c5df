"""Seeded inputs: the same seed gives byte-identical parquet, another seed
gives different inputs of the same shape."""

import pyarrow as pa

from perfbench import gen

CRAWL = gen.CrawlShape(pages=400, domains=6, seeds=30)
CHURN = gen.ChurnShape(preload=1000, batch=400, domains=12)
CORPUS = gen.CorpusShape(docs=200, vectors=50)


def _bytes(directory, name: str, table: pa.Table) -> bytes:
    directory.mkdir(exist_ok=True)
    path = directory / f"{name}.parquet"
    gen.write_parquet(table, str(path))
    return path.read_bytes()


def _crawl_tables(seed):
    c = gen.crawl_inputs(seed, CRAWL)
    return {"pages": c.pages, "robots": c.robots, "seeds": pa.table({"url": c.seeds})}


def _churn_tables(seed):
    s = gen.ChurnStream(seed, CHURN)
    return {"preload": s.preload(), "batch0": s.next_batch()[0], "batch1": s.next_batch()[0]}


def _corpus_tables(seed):
    c = gen.corpus_inputs(seed, CORPUS)
    return {"documents": c.documents, "embeddings": c.embeddings}


def test_same_seed_same_bytes_other_seed_differs(tmp_path):
    for make in (_crawl_tables, _churn_tables, _corpus_tables):
        a, b, other = make(7), make(7), make(8)
        for name in a:
            assert _bytes(tmp_path / "a", name, a[name]) == _bytes(tmp_path / "b", name, b[name]), name
            assert other[name].schema == a[name].schema, name
            if name != "robots":  # the robots rules do not depend on the seed
                assert not a[name].equals(other[name]), name


def test_churn_fresh_count_is_exact():
    s = gen.ChurnStream(3, CHURN)
    seen = {f"https://{s.hosts[s._host_table[i % 9973]]}/item/{i}" for i in range(CHURN.preload)}
    for _ in range(3):
        batch, n_new = s.next_batch()
        keys = set()
        for u in batch.column("url").to_pylist():
            u = u.replace("HTTPS://WWW.", "https://www.").split("#")[0].split("?")[0].rstrip("/")
            keys.add(u)
        assert len(keys - seen) == n_new
        assert batch.num_rows == CHURN.batch
        seen |= keys


def test_crawl_graph_has_the_traits_the_workload_needs():
    c = gen.crawl_inputs(5, CRAWL)
    urls = c.pages.column("url").to_pylist()
    status = c.pages.column("status_code").to_pylist()
    assert len(set(urls)) == len(urls)
    assert {404, 403} <= set(status) and ({500, 503} & set(status))
    hot = sum(gen.HOT_DOMAIN in u for u in urls) / len(urls)
    assert 0.2 < hot < 0.5
    redirects = sum(a != b for a, b in zip(urls, c.pages.column("loaded_url").to_pylist()))
    assert redirects > 0
    sizes = [len(h) for h in c.pages.column("html").to_pylist()]
    assert max(sizes) > 4 * min(sizes)
