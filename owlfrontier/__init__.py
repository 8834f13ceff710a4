"""owlfrontier — a PySpark-native crawl engine with the capabilities of
fmpwizard/owlcrawler (see SURVEY.md for the blueprint, COVERAGE.md for the
operator map).

Public surface:

>>> from owlfrontier import CrawlConfig, CrawlEngine
>>> engine = CrawlEngine(spark, pages_df, "/path/to/store",
...                      config=CrawlConfig(politeness_k=16))
>>> engine.run(seeds=["http://example.com/"])
>>> engine.crawl_order()          # exact reference FIFO order
>>> engine.crawled()              # the pages table with extraction columns

Pure-Python pieces (no JVM needed): ``owlfrontier.extract`` (the
byte-identical extractor), ``owlfrontier.simulate`` (the oracle),
``owlfrontier.robots``.
"""

from owlfrontier import zipguard
from owlfrontier.crawler import CrawlConfig, CrawlEngine  # noqa: F401
from owlfrontier.extract import extract_full, extraction_udf  # noqa: F401
from owlfrontier.simulate import (  # noqa: F401
    simulate_fifo,
    simulate_generations,
)

# a Python worker that unpickles any engine UDF imports this package, and
# from then on keeps its zip-import index across tasks (see zipguard.py)
zipguard.install()

__all__ = [
    "CrawlConfig",
    "CrawlEngine",
    "extract_full",
    "extraction_udf",
    "simulate_fifo",
    "simulate_generations",
]
