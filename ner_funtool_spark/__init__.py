"""ner_funtool_spark — a PySpark-native knowledge-graph construction engine.

Brand-new implementation (NOT a port) of the query / data-processing
capabilities of the reference NER toolkit WenRichard/NER-FunTool
(/root/reference, read-only), re-expressed Spark-first:

* DataFrame/SQL logical plans, Catalyst-optimized relational glue.
* One Arrow-batched ``mapInArrow`` tagger stage for the tensor path
  (split lines -> encode -> emissions -> vectorized CRF Viterbi ->
  BMES tags -> spans), never per-row Python.
* Span extraction, entity linking (broadcast alias join + blocked
  candidate scoring), connected-components canonicalization, and a
  salted, checkpointed (subj, pred, obj) triples materialization.

See SURVEY.md for the operator-by-operator derivation from the
reference semantics.
"""

__version__ = "0.1.0"

# Inside a Spark task, stop Spark re-reading its jar and pyspark.zip at
# every task of this (reused) worker; a no-op on the driver.
from ner_funtool_spark import _worker

_worker.install()
