"""Benchmark workloads: which registered queries run, and why."""

WORKLOADS = {
    # Read-only provider DAGs plus a TPC-H join: plan construction, Catalyst
    # and JVM shuffles, with no Python worker and no sink. The control for
    # codec and sink changes.
    "providers": (
        "mariner1_oval_graph_dag",
        "oval1_resolution_dag",
        "kev1_end_to_end_dag",
        "epss1_end_to_end_dag",
        "eol1_end_to_end_dag",
        "tpch_q13_customer_distribution",
    ),
    # Arrow-UDF and mapInPandas media codecs plus writer queries: Python
    # worker time, and sink writes made while the plan is constructed.
    "media_sinks": (
        "m8_png_resize_pipeline",
        "m17_flac_audio_features",
        "s12_sink_roundtrip",
        "i4_first_observed_merge",
        "i6_frozen_partitions",
    ),
}
