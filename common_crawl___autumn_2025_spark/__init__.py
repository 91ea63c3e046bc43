"""PySpark-native crawl-frontier analytics engine.

A from-scratch, Spark-first re-expression of the query and
data-processing capabilities of the reference practical
(``PracticeOrientedAICDT/Common-Crawl---Autumn-2025``): a URL-frontier
+ fetch-scheduler crawl loop over image+caption record tables, plus
the full relational operator surface the reference's pandas scripts
exercise (scans, filters, joins, aggregations, windows, string/URL/
date functions) and the large-scale training-data-pipeline operators
a 100 TB corpus needs (dedup, similarity search, text quality).

Everything here derives from public knowledge only: the Apache Spark
/ PySpark API, the reference repo's observable behavior, and
published OLAP/crawl literature.
"""

from . import zipcache as _zipcache

# stop every Python task re-reading each zip on sys.path (see zipcache)
_zipcache.install()

__version__ = "0.1.0"
