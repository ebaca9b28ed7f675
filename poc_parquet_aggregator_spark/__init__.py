"""PySpark-native analytics + lightweight columnar-compression engine.

A from-scratch re-expression of the query/data-processing capabilities of
``jordigilh/poc-parquet-aggregator`` (reference at /root/reference, read-only)
in idiomatic PySpark, plus the per-column lightweight-compression engine
(dict / RLE / FSST / bit-pack / frame-of-reference with codec auto-selection)
over pre-tokenized training sequences described in BASELINE.json.

Layout:
    codecs/     pure numpy encode/decode kernels + auto-selector (no Spark dep)
    encode/     the Spark encode/decode pipeline (mapInPandas, manifest, resume)
    operators/  relational operator layer (SURVEY.md §2 inventory as DataFrame fns)
    functions/  scalar/label/map helpers (SURVEY.md §2.8)
    sources/    seeded token-table generator (the encode input)
    plans/      session builder + tuning knobs
    streaming/  incremental encode of new or changed input files
"""

__version__ = "0.1.0"
