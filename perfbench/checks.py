"""Correctness checks on what a workload run observed. Each returns the
number of failed operations it finds, which run.py adds to ``failed``.
"""


def etl_cycle(observed, expected):
    """Every cycle's RunReport must equal the counts derived from the
    generated input, the sink must hold every input row, and
    ``LoadValidation.ok`` must hold. One failure per bad cycle."""
    want = [expected["total"], expected["late"], expected["dq_failures"],
            expected["drift"], expected["total"], 1]
    return sum(1 for cycle in observed["cycles"] if list(cycle) != want)


def ingest_stream(observed, expected):
    """Main plus quarantine must hold each offered key exactly once, the
    planted late share and the planted DQ failures. One failure per
    missing, duplicated or misclassified event."""
    offered = observed["offered"]
    if offered != expected["offered"]:
        return max(1, abs(offered - expected["offered"]))
    return (abs(observed["distinct_keys"] - offered)
            + (observed["sink_rows"] - observed["distinct_keys"])
            + abs(observed["late"] - expected["late"])
            + abs(observed["quarantined"] - expected["dq_failures"]))


def load_expected(path):
    """``name rows hash`` per line, as ``perfbench.Main record=`` writes."""
    out = {}
    with open(path) as f:
        for line in f:
            name, rows, digest = line.rstrip("\n").split("\t")
            out[name] = [rows, digest]
    return out


def query_suite(observed, expected):
    """Each query's row count and content hash must match the values
    recorded from oracle-verified outputs. One failure per query."""
    return sum(1 for name, got in observed["queries"].items()
               if expected.get(name) != list(got))
