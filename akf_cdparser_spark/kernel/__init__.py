"""Pure-Python extraction kernel (no Spark imports).

This package re-implements, from observed behavior, the per-document
extraction semantics of UB-Mannheim/akf-cdparser. It is deliberately free of
any Spark dependency so that:

* it unit-tests instantly (no JVM),
* the Spark layer (operators/extract.py) can ship it to executors inside
  vectorized ``mapInArrow`` batches — documents are small (a few hundred
  lines), so parallelism lives ACROSS documents, never within one.

Reference citations (``file:line`` under /root/reference) appear in
docstrings for parity checking; no code is copied.
"""

from .document import parse_document  # noqa: F401
