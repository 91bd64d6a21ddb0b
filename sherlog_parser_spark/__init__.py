"""sherlog_parser_spark — a from-scratch PySpark-native log/transcript
parse → enrich → route → aggregate engine with the query semantics of
navneet-mkr/Sherlog-parser (reference at /root/reference, studied for
behavior only; no code ported).

Architecture (SURVEY.md §7): the reference's sequential trie/pool
algorithm is re-expressed as

    scan → token masking (one JVM expression: a regexp_replace chain)
         → signature hash → template-dictionary build
           (distributed groupBy + tiny driver-side similarity merge)
         → broadcast hash join enrich → fan-out routed writes
         → template-frequency / windowed tool-usage aggregates

All heavy lifting is DataFrame-declarative so Catalyst/Tungsten pick
the physical plan; the pipeline runs no Python on the data path.
"""

__version__ = "0.1.0"
