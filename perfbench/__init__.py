"""Seeded end-to-end and per-layer benchmark for the IVF search and index
write path and the corpus curation path of `vector_search_test_spark`.

Run it with ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>``; see perfbench/README.md.
"""
