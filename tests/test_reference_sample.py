"""End-to-end import of the reference repo's own sample/ CSV files.

The closest thing to the reference's integration test
(ImporterIntegrationTest.java:23-49 runs generator → import →
ConsistencyCheckTool); here the oracle is the known content of the
reference's sample/ directory (readme.md:56-76), rebuilt in
tests/fixtures/reference_sample: the readme's tab-separated nodes
split over nodes.csv and nodes2.csv under one header, rels.csv with
both endpoints looked up in the ``users`` index.
"""

import os

from batch_import_spark.operators.graph_import import import_nodes, import_relationships
from batch_import_spark.sources.csv_source import read_reference_csv

SAMPLE = os.path.join(os.path.dirname(__file__), "fixtures", "reference_sample")


def test_reference_sample_end_to_end(spark):
    nodes = import_nodes(
        read_reference_csv(spark, f"{SAMPLE}/nodes.csv,{SAMPLE}/nodes2.csv")
    )
    got = {r["name"]: r["node_id"] for r in nodes.nodes.collect()}
    # dense ids across both files in declared order (readme.md:38)
    assert got == {"Michael": 0, "Selina": 1, "Rana": 2, "Selma": 3}

    # duplicate header names (name:string:users twice) are legal:
    # the reference is positional (sample/rels.csv)
    rels = import_relationships(
        read_reference_csv(spark, f"{SAMPLE}/rels.csv"), nodes.index_entries
    )
    edges = {(r["src_id"], r["dst_id"]) for r in rels.edges.collect()}
    assert edges == {(0, 1), (0, 2), (0, 3), (2, 3), (1, 2)}
    m = rels.observation.get
    assert (m["n_input"], m["n_resolved"], m["n_skipped"]) == (5, 5, 0)
