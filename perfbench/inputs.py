"""Seeded benchmark inputs.

The program only ever sees the parquet files written here; the seed never
reaches it.

- KG documents come from ``synth.gen_doc(i)``, a pure function of the doc
  index. The seed selects a disjoint index window, so different seeds give
  disjoint corpora with the same Zipf hub skew.
- The curation corpus follows ``BENCH/curation_scale_child.py``: 30-word
  documents with exact copies (index = 3 mod 17) and near duplicates (index =
  7 mod 10, the predecessor's text plus one word) planted at a constant rate.
  The seed shifts the word wheel and the doc-id window, so the corpus
  differs per seed while the planted populations keep their shape.

Bump ``GENERATOR_VERSION`` whenever a generator's output changes: it keys
the output digests that later runs of the same seed must reproduce.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

GENERATOR_VERSION = 2

#: doc indices per seed window; a multiple of the curation word wheel (5000)
#: so every window lines up with the wheel the same way
WINDOW = 1_000_000

NEAR_DUP_MARK = " neardupmark"
CURATION_WORDS = 30
_WHEEL = 5000

#: parquet files per input directory: enough splits to keep local[4] busy
INPUT_FILES = 8


def window_start(seed: int) -> int:
    """First doc index of the seed's window."""
    if seed < 0:
        raise ValueError(f"seed must be >= 0, got {seed}")
    return seed * WINDOW


def kg_doc_indices(seed: int, n_docs: int) -> range:
    start = window_start(seed)
    if n_docs > WINDOW:
        raise ValueError(f"at most {WINDOW} docs per seed window")
    return range(start, start + n_docs)


def kg_docs_table(seed: int, n_docs: int) -> pa.Table:
    """Interleaved documents of the seed's window as an Arrow table."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from knowledge_graph_rag_spark import synth
    from knowledge_graph_rag_spark.schemas import DOCUMENTS_INTERLEAVED_SCHEMA

    idx = kg_doc_indices(seed, n_docs)
    pdf = synth.gen_documents_pdf(n_docs, start=idx.start)
    return pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(DOCUMENTS_INTERLEAVED_SCHEMA),
        preserve_index=False,
    )


def _curation_source(i: int) -> tuple[int, bool]:
    """(index whose words doc ``i`` carries, near-dup mark) for local index
    ``i``, resolved in the order of ``curation_scale_child.py`` so every
    planted pair really forms."""
    near = i % 10 == 7
    j = i - 1 if near else i
    ej = j - 1 if (j % 17 == 3 and j % 10 != 7) else j
    b2 = ej - 1 if ej % 10 == 7 else ej
    return b2, near or ej % 10 == 7


def curation_rows(seed: int, n_docs: int) -> tuple[list[str], list[str]]:
    """(doc_ids, texts) of the seeded curation corpus."""
    start = window_start(seed)
    shift = (seed * 2654435761) % _WHEEL
    ids, texts = [], []
    for i in range(n_docs):
        src, marked = _curation_source(i)
        # the block tag stays window-local: a longer word would push the
        # mean word length past the quality gate's limit of 12
        text = " ".join(
            f"w{(src * 31 + k * 7 + shift) % _WHEEL}x{k % 11}g{src // _WHEEL}"
            for k in range(CURATION_WORDS)
        )
        ids.append(f"d{start + i}")
        texts.append(text + NEAR_DUP_MARK if marked else text)
    return ids, texts


def planted_funnel(texts: list[str]) -> dict[str, int]:
    """Survivor counts the planted populations imply: exact dedup keeps one
    doc per distinct text, near dedup then drops the marked twin of every
    planted pair, and the synthetic words all pass the quality gate."""
    distinct = set(texts)
    twins = sum(
        1 for t in distinct
        if t.endswith(NEAR_DUP_MARK) and t[: -len(NEAR_DUP_MARK)] in distinct
    )
    exact = len(distinct)
    return {"exact_dedup": exact, "near_dedup": exact - twins,
            "quality": exact - twins}


def in_hash_sample(doc_id: str, fraction: float) -> bool:
    """Membership rule of ``operators.sampling.hash_sample``, restated in
    Python: the first four hex digits of md5(key) below fraction * 65536."""
    bucket = int(hashlib.md5(doc_id.encode()).hexdigest()[:4], 16)
    return bucket < int(fraction * 65536)


def write_parquet(spark, table: pa.Table, path: str) -> None:
    """Replace ``path`` with ``table`` split into ``INPUT_FILES`` parquet files.
    Written through Spark, so the JVM has planned, shuffled and written
    parquet before the measured run starts; what stays cold in that run is
    the program's own code."""
    (spark.createDataFrame(table).repartition(INPUT_FILES)
     .write.mode("overwrite").parquet(path))
