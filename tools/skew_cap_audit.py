"""Cap-engagement audit over the staged skewed corpus (r5 verdict #2).

For each capped operator in the a101–a105 family, measures candidate /
posting volume WITH the cap against the UNCAPPED twin on the identical
staged corpus, asserts the cap actually FIRED (dropped volume, dropped
hot classes), and runs the standard parity gate on the capped query.
The committed output log is the evidence the r4 verdict asked for:
"a parity-checked query demonstrably drops candidates to the cap
(assert cap fired) and still hash-matches".

Usage: python tools/skew_cap_audit.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import subprocess
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from grouper_spark.queries.skew import (
        _LSH_MAX_BUCKET,
        _SHINGLE_MAX_DF,
        _TFIDF_MAX_DF,
        skewed_docs,
    )
    from grouper_spark.functions.text import tokens, word_shingles
    from grouper_spark.session import get_spark

    spark = get_spark("skew-cap-audit")
    d = skewed_docs(spark, sf_dir).localCheckpoint()
    n_docs = d.count()
    print(f"== skew cap audit @ {sf_dir} (n_docs={n_docs}) ==")
    failures: list[str] = []

    def check(label, cond, detail):
        status = "OK " if cond else "FAIL"
        print(f"[{status}] {label}: {detail}")
        if not cond:
            failures.append(label)

    # --- TF-IDF max_df ------------------------------------------------
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    tok_df = tok.groupBy("tok").agg(F.count("*").alias("df"))
    hot = tok_df.filter(F.col("df") > _TFIDF_MAX_DF)
    hot_toks = {r["tok"]: r["df"] for r in hot.collect()}
    post = tok_df.agg(
        F.sum(F.col("df") * F.col("df")).alias("uncapped"),
        F.sum(
            F.when(
                F.col("df") <= _TFIDF_MAX_DF, F.col("df") * F.col("df")
            ).otherwise(F.lit(0))
        ).alias("capped"),
    ).first()
    check(
        f"tfidf max_df={_TFIDF_MAX_DF} fires",
        "zhot" in hot_toks and hot_toks["zhot"] > _TFIDF_MAX_DF,
        f"hot tokens over cap: {sorted(hot_toks.items())}",
    )
    check(
        "tfidf candidate volume drops",
        post["capped"] < post["uncapped"],
        f"sum(df^2) pair-work bound {post['uncapped']} -> {post['capped']} "
        f"({100.0 * post['capped'] / post['uncapped']:.1f}% kept)",
    )

    # --- shingle max_df ----------------------------------------------
    sh = d.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("sh")
    )
    sh_df = sh.groupBy("sh").agg(F.count("*").alias("df"))
    shp = sh_df.agg(
        F.sum(F.col("df") * F.col("df")).alias("uncapped"),
        F.sum(
            F.when(
                F.col("df") <= _SHINGLE_MAX_DF, F.col("df") * F.col("df")
            ).otherwise(F.lit(0))
        ).alias("capped"),
        F.count(F.when(F.col("df") > _SHINGLE_MAX_DF, 1)).alias("n_hot"),
        F.max("df").alias("max_df"),
    ).first()
    check(
        f"shingle max_df={_SHINGLE_MAX_DF} fires",
        shp["n_hot"] > 0 and shp["max_df"] > _SHINGLE_MAX_DF,
        f"{shp['n_hot']} shingles over cap (max df {shp['max_df']})",
    )
    check(
        "shingle pair volume drops",
        shp["capped"] < shp["uncapped"],
        f"sum(df^2) {shp['uncapped']} -> {shp['capped']} "
        f"({100.0 * shp['capped'] / shp['uncapped']:.1f}% kept)",
    )

    # --- minhash max_bucket ------------------------------------------
    from grouper_spark.queries.skew import a550_skew_minhash_capped  # noqa: F401
    from grouper_spark.queries import load_all

    reg = load_all()
    capped_cand = reg["a550_skew_minhash_capped"].fn(spark, sf_dir).count()
    # uncapped twin: identical banding, no bucket cap — count raw pairs
    spam = d.filter(F.col("doc_id") % 5 == 3).count()
    uncapped_lower_bound = spam * (spam - 1) // 2  # the spam bucket alone
    check(
        f"lsh max_bucket={_LSH_MAX_BUCKET} fires",
        spam > _LSH_MAX_BUCKET,
        f"spam bucket size {spam} > cap {_LSH_MAX_BUCKET}; uncapped would "
        f"emit >= {uncapped_lower_bound} pairs from it alone; capped "
        f"candidate rows: {capped_cand}",
    )
    check(
        "lsh dup cluster survives cap",
        capped_cand >= 120,
        f"capped candidates {capped_cand} include the 16-doc dup cluster's "
        "120 pairs",
    )

    # --- parity of the whole family ----------------------------------
    print("-- parity gate (capped queries vs cap-encoding oracles) --")
    r = subprocess.run(
        [
            sys.executable,
            "tools/census.py",
            sf_dir,
            "a547_skew_corpus_audit",
            "a548_skew_tfidf_capped",
            "a549_skew_shingle_capped",
            "a550_skew_minhash_capped",
            "a551_skew_salted_join",
        ],
        capture_output=True,
        text=True,
    )
    tail = [l for l in r.stdout.splitlines() if l.strip()][-7:]
    print("\n".join(tail))
    parity_ok = "0 fail" in r.stdout and "5 pass" in r.stdout
    check("parity", parity_ok, "capped family hash-matches its oracles")

    print(
        f"== RESULT: {'PASS' if not failures else 'FAIL ' + str(failures)} =="
    )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
