#!/usr/bin/env python
"""Arrow→RE2 crossing decision probe (r15, VERDICT r14 #5).

The Java-regex text families (pii/curation/profile) sit at 1.1-1.4×
of DuckDB at sf0.1; the candidate optimization is one Arrow crossing
into RE2 (pyarrow.compute's count_substring_regex /
replace_substring_regex). At sf0.1 the ~0.2 s crossing floor eats the
win — this probe re-measures at ~sf1 (the sf0.1 documents corpus
replicated 10× with remapped doc_ids, built in /tmp; /root/testdata
stays read-only and untouched) and checks BYTE equality of the two
spellings at sf0.1 before timing anything, since every gated query is
value-hash-gated (patterns are already restricted to the
Java-regex ∩ RE2 subset — operators/text.py PII section).

Run: python tools/regex_scale_probe.py
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.1"
BIG = "/tmp/regexprobe/documents.parquet"
REPL = 10


def main() -> None:
    import pyarrow as pa  # noqa: F401

    from pyspark.sql import functions as F

    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import (
        text as tx,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.queries_curation import (
        pii_synth_col,
    )
    from cincinnati_police_calls_for_service_etl_using_python_dask_spark.session import (
        _DEFAULT_CPUS,
        data_scaled_conf,
        get_spark,
    )

    cpus = _DEFAULT_CPUS

    total_bytes = sum(
        os.path.getsize(os.path.join(SF_DIR, f))
        for f in os.listdir(SF_DIR)
        if f.endswith(".parquet")
    ) * REPL
    spark = get_spark(
        app_name="regex_scale_probe",
        master=f"local[{cpus}]",
        adaptive=total_bytes >= (1 << 30),
        extra_conf=data_scaled_conf(total_bytes, cpus),
    )

    docs01 = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    if not os.path.exists(BIG):
        n = docs01.agg(F.max("doc_id")).first()[0] + 1
        big = None
        for i in range(REPL):
            part = docs01.select(
                (F.col("doc_id") + F.lit(i * n)).alias("doc_id"),
                *[c for c in docs01.columns if c != "doc_id"],
            )
            big = part if big is None else big.unionByName(part)
        shutil.rmtree(os.path.dirname(BIG), ignore_errors=True)
        big.repartition(32).write.parquet(BIG)
    dbig = spark.read.parquet(BIG)
    print(f"big corpus rows: {dbig.count()}")

    synth = pii_synth_col()

    def jvm_frame(d):
        counts = tx.pii_counts(synth)
        return d.select(
            "doc_id",
            counts["n_emails"].alias("n_emails"),
            counts["n_ips"].alias("n_ips"),
            counts["n_phones"].alias("n_phones"),
            tx.redact_pii(synth).alias("redacted"),
        )

    def arrow_frame(d):
        # one Arrow crossing: synth built JVM-side (string concat —
        # cheap), regex work in RE2 over whole record batches
        import pyarrow as pa
        import pyarrow.compute as pc

        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators.text import (
            PII_EMAIL,
            PII_IPV4,
            PII_PHONE,
            PII_PATTERNS,
        )

        def work(it):
            for batch in it:
                t = batch.column("__synth")
                cols = [batch.column("doc_id")]
                for pat in (PII_EMAIL, PII_IPV4, PII_PHONE):
                    cols.append(
                        pc.cast(pc.count_substring_regex(t, pat), pa.int64())
                    )
                red = t
                for pat, token in PII_PATTERNS:
                    red = pc.replace_substring_regex(red, pat, token)
                cols.append(red)
                yield pa.RecordBatch.from_arrays(
                    cols,
                    ["doc_id", "n_emails", "n_ips", "n_phones", "redacted"],
                )

        return d.select("doc_id", synth.alias("__synth")).mapInArrow(
            work,
            "doc_id long, n_emails long, n_ips long, n_phones long, "
            "redacted string",
        )

    # byte-equality gate at sf0.1
    a = {r["doc_id"]: tuple(r) for r in jvm_frame(docs01).collect()}
    b = {r["doc_id"]: tuple(r) for r in arrow_frame(docs01).collect()}
    assert a == b, "RE2 spelling is NOT byte-equal to the Java spelling"
    print("byte-equality at sf0.1: OK")

    def bench(frame, label):
        frame.write.format("noop").mode("overwrite").save()  # cold
        best = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        print(f"{label}: {best:.3f} s")
        return best

    for d, tag in ((docs01, "sf0.1"), (dbig, f"sf0.1x{REPL}")):
        j = bench(jvm_frame(d), f"pii jvm   @ {tag}")
        r = bench(arrow_frame(d), f"pii arrow @ {tag}")
        print(f"  -> arrow/jvm speedup @ {tag}: {j / r:.2f}x")

    # profile-shape workload: pure regexp_count set over raw text
    # (the Gopher metrics' RE2-expressible subset — the committed
    # alpha_word_fraction pattern uses lookahead, which RE2 lacks, so
    # a full text_profile crossing would ALSO need that operator
    # respelled; this probe times the count-only shape both engines
    # can spell identically)
    relined = tx.reline("text", tokens_per_line=5)

    def jvm_prof(d):
        c = relined
        return d.select(
            "doc_id",
            F.regexp_count(c, F.lit(tx.SYMBOL_PATTERN)).alias("n_sym"),
            F.regexp_count(c, F.lit(tx.BULLET_LINE)).alias("n_bullet"),
            F.regexp_count(c, F.lit(tx.ELLIPSIS_LINE)).alias("n_ellip"),
            F.length(F.regexp_replace(c, r"\s", "")).alias("n_nonws"),
        )

    def arrow_prof(d):
        import pyarrow as pa
        import pyarrow.compute as pc

        def work(it):
            for batch in it:
                t = batch.column("__rl")
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column("doc_id"),
                        pc.cast(
                            pc.count_substring_regex(t, tx.SYMBOL_PATTERN),
                            pa.int64(),
                        ),
                        pc.cast(
                            pc.count_substring_regex(t, tx.BULLET_LINE),
                            pa.int64(),
                        ),
                        pc.cast(
                            pc.count_substring_regex(t, tx.ELLIPSIS_LINE),
                            pa.int64(),
                        ),
                        pc.cast(
                            pc.utf8_length(
                                pc.replace_substring_regex(t, r"\s", "")
                            ),
                            pa.int32(),
                        ),
                    ],
                    ["doc_id", "n_sym", "n_bullet", "n_ellip", "n_nonws"],
                )

        return d.select("doc_id", relined.alias("__rl")).mapInArrow(
            work,
            "doc_id long, n_sym long, n_bullet long, n_ellip long, "
            "n_nonws int",
        )

    pa_ = {r["doc_id"]: tuple(r) for r in jvm_prof(docs01).collect()}
    pb_ = {r["doc_id"]: tuple(r) for r in arrow_prof(docs01).collect()}
    assert pa_ == pb_, "prof RE2 spelling is NOT byte-equal"
    print("prof byte-equality at sf0.1: OK")

    for d, tag in ((docs01, "sf0.1"), (dbig, f"sf0.1x{REPL}")):
        j = bench(jvm_prof(d), f"prof jvm   @ {tag}")
        r = bench(arrow_prof(d), f"prof arrow @ {tag}")
        print(f"  -> arrow/jvm speedup @ {tag}: {j / r:.2f}x")

    spark.stop()


if __name__ == "__main__":
    main()
