"""The repository's benchmark: resumed crawl rounds of ``run_round`` plus
registry queries on the same Spark session. Run ``python3
perfbench/run.py --help`` from the repository root."""
