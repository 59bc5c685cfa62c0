import sys, io, contextlib
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions","8")
         .config("spark.ui.enabled","false").getOrCreate())
from vexor_spark import catalog
from vexor_spark.index.storage import PersistedIndex

def plan_of(df):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()

out = []
sf = "/root/testdata/sf0.01"

df = catalog.q_bm25_top10(spark, sf)
out.append(("bm25_top10 over documents (scan -> broadcast term join -> broadcast dfreq join -> two-phase agg -> TakeOrdered; tokenized corpus localCheckpointed once)", plan_of(df)))

idx_dir = "/tmp/idx_plans"
import os
if not os.path.exists(idx_dir + "/meta.json"):
    from vexor_spark.index.storage import build_and_write_index
    from vexor_spark.sources.corpus import generate_pages_df
    build_and_write_index(generate_pages_df(spark, 5000, edges=True, partitions=8), idx_dir)
pidx = PersistedIndex(spark, idx_dir)
out.append(("persisted-index matched-blocks scan (term_bucket partition pruning + term pushdown)",
            plan_of(pidx._matched_blocks(["spark", "merge"]))))
# capture the SCORED sub-plan (what search_distributed(prune=False)
# ranks): the final top_k is a bounded
# TakeOrdered collect + driver numbering, so the returned frame's own
# plan is just the materialized rows.
out.append(("distributed BM25 scoring over persisted index (pruned scan -> decode UDF -> explode -> two-phase hash agg; top_k then TakeOrders this)",
            plan_of(pidx._score_blocks(pidx._matched_blocks(["spark", "merge", "index"])))))

docs = catalog.docs_table(spark, sf).select("doc_id", "text")
from pyspark.sql import functions as F
pruned = docs.select("doc_id").filter(F.col("doc_id") < 10)
out.append(("column pruning + filter pushdown on parquet scan", plan_of(pruned)))

# candidate-bounded exact RRF: per-leg TakeOrdered candidates + broadcast
# theta-join rank counts — no unpartitioned window, no full-leg sort.
from vexor_spark.operators.fusion import rrf_fused_candidates
emb = catalog.embeddings_table(spark, sf)
from vexor_spark.operators import similarity as sim
qv = [float(j % 5) for j in range(64)]
dense = emb.select(F.col("vec_id").cast("long").alias("doc_id"),
                   sim.cosine_lit_col(F.col("embedding"), qv).alias("dense_score"))
bm25 = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                   (F.length("text") % 7).cast("double").alias("score"))
out.append(("candidate-bounded exact RRF (TakeOrdered legs + BroadcastNestedLoop beat-counts, no rank window)",
            plan_of(rrf_fused_candidates(dense, bm25, 10))))

# skew-capped LSH candidate join: per-bucket chunk keys bound any hot
# band bucket's task to max_bucket x m rows.
from vexor_spark.functions.tokenize import tokenize_col
from vexor_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures
toks = docs.limit(500).select("doc_id", tokenize_col("text").alias("tokens"))
out.append(("LSH candidate pairs with max_bucket chunk routing (partitioned window + chunk-key equi-join)",
            plan_of(lsh_candidate_pairs(minhash_signatures(toks), max_bucket=1024))))

# round 4: whole-suite batch serving in one job — shared scan/decode,
# broadcast (query, term) join, WindowGroupLimit partial+final ranks.
out.append(("multi-query batch serving (one scan for the union of terms -> one decode per block -> broadcast (query,term) join -> WindowGroupLimit per-query ranks)",
            plan_of(pidx.search_distributed_multi({"a": "spark merge", "b": "hash index"}, k=10))))

# round 4: hashing-trick tf-idf dense leg — explode to buckets,
# two-phase (doc,bucket) counts, broadcast idf + query-vector joins.
from vexor_spark.operators.fusion import hashed_bow_scores
lbl = docs.select("doc_id", F.col("text").alias("label"))
out.append(("hashed-BoW tf-idf dense scores (explode buckets -> two-phase counts -> broadcast idf + query joins -> per-doc dot/norm agg)",
            plan_of(hashed_bow_scores(lbl, "spark merge window"))))

# round 4: segmented (delta) search — base decode anti-joined to
# tombstones, row-format segment postings unioned in, broadcast merged
# df map; exact BM25 over the layered view.
import shutil, tempfile
from vexor_spark.index.delta import delta_update
from vexor_spark.index.maintenance import update_index
from vexor_spark.sources.corpus import PAGES_SCHEMA, generate_pages_df, page_record
dwork = tempfile.mkdtemp(prefix="plans_delta_w")
didx = tempfile.mkdtemp(prefix="plans_delta_i") + "/idx"
pages0 = generate_pages_df(spark, 400, edges=False, partitions=4)
update_index(pages0, dwork, didx, term_buckets=8)
mut = pages0.withColumn(
    "text", F.when(F.col("url").endswith("0007.html") | (F.xxhash64("url") % 20 == 0),
                   F.concat(F.col("text"), F.lit(" plansedit"))).otherwise(F.col("text"))
).withColumn(
    "html", F.encode(F.col("text"), "UTF-8")
)
delta_update(mut, dwork, didx)
seg = PersistedIndex(spark, didx)
out.append(("segmented delta scoring (ONE base scan + ONE hive-partitioned segment-block scan [seg,term_bucket pruned] -> decode with the tombstone filter -> agg -> top_k)",
            plan_of(seg._score_blocks(seg._matched_blocks(["spark", "merge", "index"])))))
out.append(("segmented multi-query batch serving (same layered read shared by the whole batch + broadcast (query,term) join + WindowGroupLimit per-query ranks)",
            plan_of(seg.search_distributed_multi({"q0": "spark merge", "q1": "index posting"}, 10))))
shutil.rmtree(dwork, ignore_errors=True)

# ANN-served dense leg: the returned frame is the EXACT hbow rerank of
# the multi-source candidate union (IVF sketch probe + lexical seed);
# constructing it runs the bounded candidate jobs, the plan below is
# the exact-scoring tail over the ≤300-row broadcast id set.
from vexor_spark.index.build import build_index
from vexor_spark.retrieval import ann_dense_candidates
from vexor_spark.sources.corpus import generate_pages_df
small = build_index(generate_pages_df(spark, 400, edges=False, partitions=4),
                    salt_partitions=2, term_buckets=8)
out.append(("ANN-served dense leg (exact hbow cosine over broadcast candidate ids; candidates = IVF count-sketch probe ∪ BM25 lexical seed)",
            plan_of(ann_dense_candidates(small, "merge index posting"))))
small.docs.unpersist(); small.postings.unpersist(); small.release_caches()

with open("/root/repo/PLANS.md", "w") as fh:
    fh.write("""# PLANS — physical-plan audit (`.explain(\"formatted\")`)

Evidence that the engine's plans are the plans we want (SURVEY §4):
partition pruning reaches the scan, filters/projections are pushed
down, the query-term join broadcasts, aggregations are two-phase, and
top-k compiles to TakeOrderedAndProject. Captured at sf0.01 /
a 334k-doc persisted index; regenerate with scripts/gen_plans.py.

""")
    for title, plan in out:
        fh.write(f"## {title}\n\n```\n{plan.strip()}\n```\n\n")
print("written")
spark.stop()
