"""plans/codegen_guard (r13, review r12 item 3): the janino-64KB
tripwire. The r12 link-graph blowup cost ~13 s/job of doomed
compilation invisibly — results stayed correct (interpreted
fallback), every plan-pin test passed, and the only evidence was a
driver-stderr ERROR line. These tests pin (a) the line-scanning
machinery itself and (b) the end-to-end contract in a subprocess
with a fresh JVM: a deliberately fused oversized chain MUST trip
the monitor, and the production shapes (the r12 link graph, the
blocklist filter, registered-domain keys up to full-PSL scale) MUST
stay silent."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

from lantern_spark.plans.codegen_guard import (
    CODEGEN_FAILURE_RX,
    CodegenFailureMonitor,
    scan_stderr_file,
)


class TestScanner:
    def test_regex_matches_both_spellings(self):
        assert CODEGEN_FAILURE_RX.search(
            "26/08/16 ERROR CodeGenerator: Failed to compile the "
            "generated Java code."
        )
        assert CODEGEN_FAILURE_RX.search(
            "Caused by: org.codehaus.commons.compiler."
            "InternalCompilerException: Code grows beyond 64 KB"
        )
        assert CODEGEN_FAILURE_RX.search(
            'Code of method "processNext()V" of class "X" grows beyond '
            "64 KB"
        )
        assert not CODEGEN_FAILURE_RX.search(
            "INFO CodeGenerator: Code generated in 12.3 ms"
        )

    def test_advance_is_incremental(self, tmp_path):
        p = tmp_path / "stderr.log"
        p.write_text("INFO fine\n")
        mon = CodegenFailureMonitor(str(p))
        assert mon.advance() == []
        with open(p, "a") as fh:
            fh.write("ERROR CodeGenerator: Failed to compile the "
                     "generated Java code.\nINFO other\n")
        hits = mon.advance()
        assert len(hits) == 1 and "Failed to compile" in hits[0]
        assert mon.advance() == []  # consumed
        assert len(mon.scan_all()) == 1  # full-file scan, pos preserved
        assert mon.advance() == []

    def test_scan_stderr_file(self, tmp_path):
        p = tmp_path / "cap.log"
        p.write_text("x\nCode grows beyond 64 KB\ny\n")
        assert len(scan_stderr_file(str(p))) == 1


SUBPROC = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from lantern_spark.plans.codegen_guard import CodegenFailureMonitor
    mon = CodegenFailureMonitor.install({log!r})
    from pyspark.sql import SparkSession, functions as F
    spark = (SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from lantern_spark.operators.weburl import (
        normalize_url,
        registered_domain,
    )

    # (1) deliberately fused oversized chain: eight normalize_url regex
    # chains concatenated into ONE fused agg key + a filter
    # referencing it — the shape the r12 fixes exist to prevent. Must
    # trip the monitor.
    df = spark.range(500).select(*[
        F.concat(F.lit("https://h"), (F.col("id") % 37).cast("string"),
                 F.lit(f".example{{i}}.co.uk/p?utm_source=x&a=1")
                 ).alias(f"u{{i}}")
        for i in range(8)
    ])
    key = F.concat(*[normalize_url(f"u{{i}}") for i in range(8)])
    bad = df.select(key.alias("d")).where(F.col("d") != "").groupBy(
        "d").count()
    bad.collect()
    bad_hits = mon.advance()

    # (2) the production link-graph shape (fence + host exiles +
    # host-map join): must be codegen-clean.
    from lantern_spark.operators.weburl import domain_link_graph
    hosts = F.array(F.lit("a.co.uk"), F.lit("b.com"), F.lit("c.net"))
    host = F.element_at(hosts, (F.col("id") % 3).cast("int") + 1)
    tgt = F.element_at(hosts, ((F.col("id") + 1) % 3).cast("int") + 1)
    pages = spark.range(200).select(
        F.concat(F.lit("https://"), host, F.lit("/p")).alias("url"),
        F.concat(F.lit('<a href="https://'), tgt,
                 F.lit('/x">l</a>')).alias("html"),
    )
    domain_link_graph(pages, "url", "html").collect()
    clean_hits = mon.advance()

    # (3) filter_domain_blocklist — the r13 tripwire's first real
    # catch: the PSL CASE in a raw FilterExec predicate failed compile
    # on every run since r10 (interpreted fallback). Must be
    # codegen-clean, platform path included.
    from lantern_spark.operators.weburl import filter_domain_blocklist
    urls = spark.range(300).select(
        F.concat(F.lit("https://sub.dom"),
                 (F.col("id") % 40).cast("string"),
                 F.lit(".com/p")).alias("url"))
    filter_domain_blocklist(urls, "url", ["dom13.com", "blogspot.com"]
                            ).count()
    blocklist_hits = mon.advance()

    # (4) registered_domain keyed inside a filter + group-by, four
    # chains concatenated into one key (the shape that tripped before
    # the rule CASE moved under a lambda), for the bundled ruleset and
    # a full-PSL-scale (~9.6k-rule) one: must be codegen-clean.
    sys.path.insert(0, {tests!r})
    from conftest import synthetic_psl
    hosts = spark.range(500).select(*[
        F.concat(F.lit("h"), (F.col("id") % 37).cast("string"),
                 F.lit(".r1.zz" if i % 2 else ".example.co.uk"))
        .alias(f"h{{i}}")
        for i in range(4)
    ])
    for psl in (None, synthetic_psl()):
        key = F.concat(*[
            registered_domain(f"h{{i}}", psl=psl, col_is_host=True)
            for i in range(4)
        ])
        hosts.select(key.alias("d")).where(F.col("d") != "").groupBy(
            "d").count().collect()
    psl_hits = mon.advance()
    print(json.dumps({{"bad": len(bad_hits), "clean": len(clean_hits),
                       "blocklist": len(blocklist_hits),
                       "psl": len(psl_hits)}}))
    """
)


class TestEndToEnd:
    @pytest.mark.slow
    def test_fused_chain_trips_and_production_shape_is_silent(
        self, tmp_path
    ):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        log = str(tmp_path / "jvm_stderr.log")
        script = SUBPROC.format(
            repo=repo, log=log, tests=os.path.join(repo, "tests")
        )
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["bad"] >= 1, (
            "the deliberately fused chain no longer blows the 64 KB "
            "limit — pick a bigger reproduction or celebrate a Spark "
            f"upgrade: {result}"
        )
        assert result["clean"] == 0, (
            f"the production link-graph shape tripped the janino "
            f"monitor: {result}"
        )
        assert result["blocklist"] == 0, (
            f"filter_domain_blocklist regressed to a fused filter "
            f"predicate: {result}"
        )
        assert result["psl"] == 0, (
            f"a registered_domain key tripped the janino monitor: "
            f"{result}"
        )
