"""Gate-index cache key (``_src_digest``): a rewrite of the source
documents table must change the key even when it keeps the file's
size and mtime, so a stale gate index is never reused."""

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from anserini_spark.ops.index_queries import _src_digest


def _write(path, n_rows, width):
    # plain, uncompressed, no statistics: the file size is a simple
    # function of the row count and the string width
    t = pa.table({"text": ["x" * width] * n_rows})
    pq.write_table(t, path, compression="none", use_dictionary=False,
                   write_statistics=False)
    return os.path.getsize(path)


def test_digest_sees_row_count_behind_same_size_and_mtime(tmp_path):
    src = str(tmp_path / "documents.parquet")
    size = _write(src, 3, 40)
    st = os.stat(src)
    before = _src_digest(str(tmp_path))
    # a 2-row table padded to the same file size
    for width in range(40, 200):
        if _write(src, 2, width) == size:
            break
    else:
        raise AssertionError("no same-size 2-row rewrite found")
    os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns))
    st2 = os.stat(src)
    assert (st2.st_size, st2.st_mtime_ns) == (st.st_size, st.st_mtime_ns)
    assert pq.ParquetFile(src).metadata.num_rows == 2
    assert _src_digest(str(tmp_path)) != before



def test_bm25_topk_sees_rewritten_documents(spark, tmp_path):
    """The bm25 gate persists its tf table; a rewritten documents table
    (here: only its even doc ids kept) must not be answered from the
    old cached rows (Spark's cache matches the new plan to the old one
    by path)."""
    from anserini_spark.ops.corpus_queries import FIXED_QUERIES, bm25_topk

    words = sorted({t for _, t in FIXED_QUERIES})
    docs = pa.table({
        "doc_id": pa.array(range(1, 81), pa.int64()),
        "text": [" ".join(words[(i * j) % len(words)] for j in range(1, 8))
                 for i in range(1, 81)],
    })
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    src = os.path.join(sf, "documents.parquet")
    pq.write_table(docs, src)
    first = [r["doc_id"] for r in bm25_topk(spark, sf).collect()]
    assert any(d % 2 for d in first)
    assert bm25_topk(spark, sf).collect()  # warm call reuses the table
    even = docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0))
    os.remove(src)
    pq.write_table(even, src)
    again = [r["doc_id"] for r in bm25_topk(spark, sf).collect()]
    assert again and not any(d % 2 for d in again)
