"""PySpark-native knowledge-graph construction engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference `rdf_knowledge_extractor` (Rust, single node): staged
DataFrame jobs over a Common-Crawl-style web-pages table —
HTML→text extraction, micro-batched triple extraction, normalization,
validation, dedup, entity linking (prefix filtering + connected
components), canonicalization, graph materialization, a query layer,
serializers, and a template/report layer — plus the large-scale
training-data operators (dedup family, similarity search, text
analysis, multimodal plumbing).

Reference semantics citations use `ref:<path>:<lines>` meaning a file
under the read-only reference checkout.
"""

__version__ = "0.1.0"

from rdf_knowledge_extractor_spark.schemas import TRIPLE_SCHEMA, PAGES_SCHEMA  # noqa: F401
