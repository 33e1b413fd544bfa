"""py_sema_spark — a PySpark-native knowledge-graph construction engine.

A from-scratch re-expression of the query/data-processing surface of
vliz-be-opsci/py-sema (reference at /root/reference, studied for
semantics only) over Spark DataFrames:

- ``rdf``        : pure-Python RDF parsing (Turtle / JSON-LD / N-Triples
                   subset) used inside Arrow-batched UDFs,
- ``functions``  : scalar column builders (xsd formatting ladder, URI
                   cleaning, URI-template expansion, content
                   negotiation, URL canonicalization),
- ``operators``  : extraction, transitive closure, connected components,
                   entity linkage and sameAs canonicalization, RDFS/OWL
                   entailment, URL dedup, heavy hitters, window ctrl
                   columns,
- ``sources``    : record sources (csv/json/xml/glob), synthetic corpus,
                   sinks,
- ``queries``    : the reference SPARQL-template surface as DataFrame
                   builders + a generic BGP SELECT compiler + Jinja
                   SPARQL templating,
- ``subyt``      : record×template triple generation (sources, engine,
                   sinks),
- ``harvest``    : frontier-driven traversal harvesting over a corpus
                   table,
- ``shacl``      : SHACL-core subset → violations DataFrame,
- ``store``/``syncfs`` : named-graph parquet store + mtime-diff sync,
- ``serialize``  : canonical N-Triples / CSV export / dump naming /
                   file aggregation,
- ``ogm``        : blueprint → triples (RO-Crate specialization),
- ``tasks``      : sembench task registry,
- ``cli``        : ``python -m py_sema_spark`` console surface,
- ``pipeline``   : checkpoint/resume staged pipeline with metrics,
- ``model``      : the triples-table data model (schema, dedup,
                   skolemization, graph registry, stage metrics).

Design stance (SURVEY.md §7): DataFrame/SQL everywhere, pandas/Arrow
UDFs only for parsing-shaped work, driver-side compilation for
templates/paths, iterative driver loops for closure/canonicalization.
"""

__version__ = "0.1.0"
