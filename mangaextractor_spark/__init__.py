"""mangaextractor_spark — a PySpark-native manga/comic text-extraction
analytics engine, rebuilt from scratch with the capabilities of the
reference desktop app (JhonnySalles/MangaExtractor) but re-expressed
Spark-first:

- input: a table of interleaved text+media documents
  ``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``
- extraction: Arrow-batched columnar kernels (``mapInPandas``) doing
  page decode -> classical CV bubble segmentation (connected components
  + whiteness/aspect heuristics) -> deterministic OCR -> right-to-left /
  top-to-bottom reading order -> per-document span reassembly
- relational surface: plain DataFrame/Catalyst (filters, joins,
  windows, dedup, group stats) mirroring the reference's persistence
  SQL (``/root/reference/src/manga_extractor/database/db_util.py``)
- training-data ops: dedup (exact/minhash/simhash/jaccard), text
  quality/langid/tokens, multimodal plumbing.

No code is copied from the reference; behavior citations live in each
module's docstrings as ``reference file:line``.
"""

__version__ = "0.1.0"
