"""wallaby2caom2_spark — a from-scratch PySpark-native quality-filter engine.

Re-expresses the capabilities of opencadc-metadata-curation/wallaby2caom2
(reference at /root/reference, read-only) as an idiomatic Spark DataFrame
pipeline over a table of audio clip + transcript pairs:

* the reference's per-file curation loop (``wallaby2caom2/composable.py:115-138``)
  becomes one lazy DataFrame DAG,
* its rule-cascade classification (``wallaby2caom2/storage_name.py:101-114``)
  becomes a first-match-wins ``F.when`` chain producing ``keep``/``drop_reason``,
* its declarative value repair (``wallaby2caom2/main_app.py:84-96``) becomes a
  broadcast compiled-regex scrub pass,
* its state bookmark / retry bookkeeping (``config/state.yml``,
  ``config/config.yml:28-47``) becomes a snapshot-checkpointed, exactly-once
  resumable run with lineage + metrics tables.

Nothing is ported: the quality filter's per-row logic is either Catalyst
column expressions or one Arrow-batched feature kernel (decode, langid,
perplexity, scrub — operators/fused_stage.py).
"""

__version__ = "0.1.0"
