import os, sys, time, json
sys.path.insert(0, "/root/repo")
from pyspark.sql import functions as F
from gpu_olap_engine_spark.config import EngineConfig
from gpu_olap_engine_spark.operators import dedup as D
from gpu_olap_engine_spark.queries.tables import T
from gpu_olap_engine_spark.session import get_spark

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/spark_graft_sf1")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark(EngineConfig(extra_confs={"spark.ui.enabled":"false"}), master=f"local[{cpus}]")
spark.sparkContext.setLogLevel("ERROR")

docs = T(spark, sf_dir, "documents")
def noop(df): df.write.format("noop").mode("overwrite").save()

def fresh_sh():
    spark.catalog.clearCache()
    return D.shingles(docs, "doc_id", "text", 3).persist()

for rep in range(2):
    sh = fresh_sh()
    t0=time.perf_counter(); n_sh = sh.count(); t1=time.perf_counter()
    sig = D.minhash_signatures(sh)
    noop(sig); t2=time.perf_counter()
    pairs = D.lsh_candidate_pairs(D.minhash_signatures(sh))
    noop(pairs); t3=time.perf_counter()
    full = D.jaccard_verify(sh, pairs).filter(F.col("jaccard") >= 0.5)
    noop(full); t4=time.perf_counter()
    print(f"rep{rep}: shingle_build={t1-t0:.2f} sigs={t2-t1:.2f} +pairs={t3-t2:.2f} +verify={t4-t3:.2f} total={t4-t0:.2f} n_shingles={n_sh}")

# skew probe: band bucket sizes and candidate count
sh = fresh_sh()
sig = D.minhash_signatures(sh)
band_keys = [F.concat_ws("-", *[F.col(f"mh_{b*D.LSH_ROWS+r}") for r in range(D.LSH_ROWS)]).alias(f"bk_{b}") for b in range(D.LSH_BANDS)]
banded = sig.select("id", F.posexplode(F.array(*band_keys)).alias("band_idx","band_key"))
bs = banded.groupBy("band_idx","band_key").count().orderBy(F.desc("count")).limit(10).collect()
print("top band buckets:", [(r["band_idx"], r["count"]) for r in bs])
n_cand = D.lsh_candidate_pairs(sig).count()
print("candidates:", n_cand)
spark.stop()
