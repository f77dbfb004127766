"""The training-data and crawl operators of the registry, one module per
query family. Importing the package registers every query in
``queries.REGISTRY``; each name is imported from the family module
that owns it.

Every operator is a ``queries()`` entry with a DuckDB oracle.
Cross-engine determinism: all hashing is md5-hex (identical in Spark
and DuckDB), minima and majorities run over hex strings, and doubles
are rounded in-query.
"""

from readembedability_spark.textops import (  # noqa: F401 - registers every query
    dedup,
    ann,
    search,
    graph,
    robots,
    media,
    archive,
    training,
    curation,
    audits,
)
