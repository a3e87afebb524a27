"""janet_spark — a from-scratch PySpark-native main-content extraction engine.

Re-expresses the data-processing capabilities of the reference
(jasonLaster/janet, "pdf-ocd" — see SURVEY.md) as an idiomatic Spark batch
pipeline over multi-turn conversation transcripts:

* vectorized Arrow/pandas-UDF extraction (HTML boilerplate strip, OCR text
  normalization, char-span offsets) — no per-row Python UDFs,
* extraction as a narrow map over the scan; skew handled where keys meet
  (salted conv_id-hash bucket write, chunked reassembly),
* window-ordered reassembly by (conv_id, turn_idx),
* per-partition lineage + checkpoint manifests for resumable restarts,
* training-data-pipeline operators (dedup, similarity search, text analysis).

Everything here is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
