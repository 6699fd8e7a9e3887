"""Pure-stdlib sanitizer core (no Spark, no lxml).

Semantics match /root/reference/html_sanitizer/sanitizer.py; every module
cites the reference lines it reproduces. The implementation is original:
stdlib tokenizer + tree + fixpoint walk, designed to run inside the Arrow
batch kernels (``mapInArrow``, ``arrow_udf``) on executors.
"""
