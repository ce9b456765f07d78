"""Driver contract for the spark-graft builder (PySpark target).

queries() entries map 1:1 to SURVEY.md §2 operators plus the
training-data-pipeline operators (dedup / similarity / text analysis).
Each has a DuckDB oracle in oracle_sql() — including full BM25 scoring
re-derived in SQL — so the driver value-checks results end to end.

Float determinism: every float column is rounded to 4dp IN BOTH
engines and, where ranked, ranking uses the ROUNDED value + id
tie-break so top-k boundaries agree across engines.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from elasticsearch_assets_spark.functions.analyzer import (
    analyze_text,
    duckdb_analyze_sql,
)
from elasticsearch_assets_spark.indexing.build import IndexTables, build_index
from elasticsearch_assets_spark.operators import (
    aggs,
    chunking,
    dedup,
    reader,
    sampling,
    scrub,
    similarity,
    textstats,
    writer,
)
from elasticsearch_assets_spark.query import compound as qc
from elasticsearch_assets_spark.query import exec as qx
from elasticsearch_assets_spark.query import search as qsearch
from elasticsearch_assets_spark.query.parser import parse

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_INDEX_CACHE: dict[str, IndexTables] = {}

# ANN hash family (r6): 4 seeded Gaussian hyperplanes over the 64-dim
# embeddings — purely a function of (n, dim, seed), so entry and oracle
# derive the SAME planes independently (write_ann_index also records
# them in ann.json; 4 bits ~ the sf0.01 corpus per default_n_bits).
_ANN_PLANES = similarity.random_hyperplanes(4, 64, seed=42)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _docs_index(spark: SparkSession, sf_dir: str) -> IndexTables:
    """Inverted index over the `documents` table (cached per sf_dir)."""
    key = os.path.abspath(sf_dir)
    if key not in _INDEX_CACHE:
        docs = _t(spark, sf_dir, "documents")
        idx = build_index(
            docs,
            text_col="text",
            doc_id_col="doc_id",
            n_buckets=16,
            keep_positions=True,
            source_cols=("lang", "source", "n_chars"),
        )
        # query serving reads the index many times: persist the final
        # postings (positions column included) and terms frames (the
        # on-disk equivalent is read_index over the bucket-partitioned
        # parquet layout)
        idx.postings = idx.postings.persist()
        idx.terms = idx.terms.persist()
        idx.postings.count()
        _INDEX_CACHE[key] = idx
    return _INDEX_CACHE[key]


def _ranked_match(
    spark: SparkSession, sf_dir: str, text: str, k: int, operator: str = "or"
) -> DataFrame:
    """match query ranked by ROUNDED score + doc_id (cross-engine-stable
    top-k boundary)."""
    index = _docs_index(spark, sf_dir)
    terms = sorted(set(analyze_text(text)))
    s = qx.scored_terms(index, terms)
    if operator == "and":
        s = s.where(F.col("n_matched") == len(terms))
    s = s.withColumn("score", F.round(F.col("score"), 4))
    return (
        s.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


_ANALYZE_TEXT_SQL = duckdb_analyze_sql("text")


def _bm25_cte(base: str = "documents") -> str:
    """Shared CTE prefix computing tf/dl/df/avgdl over `base` (default
    the full documents table; the purged-tombstone oracle passes a
    filtered subquery so stats re-derive over the surviving corpus)."""
    return f"""
WITH corpus AS (SELECT * FROM {base}),
toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM corpus
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT avg(dl) AS avgdl, (SELECT count(*) FROM corpus)::DOUBLE AS n FROM dl
),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
         * (tf.tf / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)))
         * 2.2 AS c
  FROM tf
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
)
"""


def _bm25_sql(terms: list[str], k: int, require_all: bool = False) -> str:
    tl = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    having = f"HAVING count(*) = {len(set(terms))}" if require_all else ""
    return f"""{_bm25_cte()}
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN ({tl})
GROUP BY doc_id {having}
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT {k}
"""


# IVF coarse quantizer recorded from the deterministic sf0.01 train
# (ivf_train k=8 iters=3 over embeddings vec_id != 0; r6 seed = the k
# smallest xxhash64(vec_id) — hash-ordered sample, not smallest ids);
# the entry retrains live — any drift fails the value gate.
_IVF_CENTROIDS = [
    [0.021743476299889153, 0.03251174685647129, 0.0032376357994508, 0.008467062907584477, -0.012997403580811806, 0.016898215463243105, 0.07137971661995834, 0.01844681084548938, 0.008615844104951975, -0.06178431819716934, 0.07479014885029756, -0.009468045577705198, -0.0012113637117181497, -0.018713707955612335, 0.012817977156373672, 0.034969705156981945, 0.056211591536339256, 0.03909953342281369, -0.03170650232277694, -0.030127349848044105, -0.018196778275523684, -0.018950189234601567, 0.017823891703301342, 0.0038981612233328633, -0.022676677926028788, 0.026887564912613016, -0.02621089194144588, 0.01404023585791947, 0.03946137973252917, 0.014861497704259818, 0.06202544602456328, -0.016897144701943034, 0.006745078004314564, 0.007420829746479285, -0.022996474981482606, 0.01043829718400957, -0.04151786377769895, -0.025790990974201122, 0.011454059104835324, 0.019021853073354578, -0.01135800749216287, 0.005101856935652904, -0.038596687867539003, -0.04634908335265209, -0.024972252787847538, -0.00039778473728802055, 0.02154545440498623, 0.03201062155676482, -0.0061782902375853155, -0.006075750927266199, -0.040074393346912984, 0.02445433475622849, -0.04970746389881242, -0.02880759412801126, 0.029683775937883183, 0.001744477056490723, -0.03696753362964955, -0.02055077875866118, -0.026554334919637768, -0.07779113359993062, -0.019459764640487265, -0.045047208829601004, 0.011323475664539728, -0.05154364568807068],
    [0.011747110290646864, -0.003393890545703471, -0.014793337943653265, 0.02220660085634639, 0.05969998572642605, -0.00024050790234468876, -0.0394220745540224, -0.02099689882209835, -0.018969369936045647, -0.03837040797467731, 0.007018501792723934, -0.01889711005690818, -0.014617100743150029, 0.033667409206585334, 0.01039839934092015, -0.009871760565632333, 0.03208029143861495, 0.03309939224272966, 0.004623411628805722, -0.027305994445244626, 0.02270674849084268, 0.06204330972395837, 0.06709288202303772, -0.10415549218499412, -0.026980043346217522, -0.03122990709186221, 0.039490698049000156, 0.04604908821638674, -0.047054447625608495, -0.0066571572164927295, 0.026849546345571677, -0.03623158877853712, -0.039095354966896895, -0.020475781668210402, 0.020257550697230422, 0.01376524210985129, 0.057733372986937564, -0.009248339348899511, 0.029246180904495607, 0.07364391028410561, 0.015454183051770088, 0.025244437737759046, 0.03191934317971269, -0.024973052965166668, -0.02021101221907884, -0.027536771539598704, -0.02004627529337692, 0.013187938628834672, -0.019593613039857398, 0.036250500652628644, -0.01222444802794295, -0.025639787302740538, 0.01823025108606089, 0.019801197239333608, 0.01972227426401029, -0.004246161965420469, -0.004595382352514814, -0.030888196111967168, -0.0048348623454027495, 0.03463161123994117, -0.03203699821606278, 0.037768774894842254, 0.05403774695005268, -0.028906198445474728],
    [0.0021686318214051425, -0.0390342449201853, 0.0372610815702501, 0.0038821185764390974, -0.003200688087963499, -0.06235485252545914, -0.018354993853245107, 0.07705521026073256, -0.029635000010603107, 0.06032035995449405, -0.002481202689523343, 0.011551542129018344, 0.05402204688289203, 0.03664512895193184, 0.005275502509903163, 0.008607893344014883, -0.03643601417124955, -0.023473305239895124, -0.03808457510676817, 0.03475893549621105, -0.005485945573309436, -0.022940614967956206, 0.018555850786651718, 0.0053303489403333515, 0.015310407675860916, 0.009700149760465137, -0.039208198548294604, 0.032366098018246706, -0.02279587033408461, 0.05410477114201058, 0.018311360909137875, -0.022674218562315218, 0.056276437868655195, 0.06662992871642928, 0.028122289560269565, 0.005693075817544013, -0.005955901750712656, 0.0211369556888485, -0.023239600664874162, 0.00219361843628576, -0.03582119987695478, -0.025045546362525782, -0.022229939937824385, 0.025805861206026747, -0.036233609629562125, -0.010540990567824338, -0.04579620088697993, 0.0019360341924766545, 0.008602760948997456, -0.02481208472745493, 0.0887168575252872, 0.039274412019585724, 0.01929742620268371, 0.020546238517272285, 0.0014401271706447004, -0.011171661034313728, -0.006282690335501684, -0.04127549260738306, -0.021693842923923512, 0.009032793808910356, 0.0008344591653440148, -0.006569539446809358, -0.008931858500000089, -0.05870698197395541],
    [-0.06378833783621138, -0.026746223612942478, 0.04889542760158127, 0.01156097269109027, -0.015283141335980459, 0.04220657391388985, -0.019139434483473782, 0.01968056589830667, -0.014928487897850572, 0.0644809630064463, -0.06426149799424985, 0.026520715349099853, 0.015560535301285034, -0.0824220838617872, 0.030687179179354148, 0.0050351661386560985, 0.04553473518992012, -0.013056751433759927, 0.023903408462435684, 0.00266582030294971, -0.027066734289242462, -0.005710287412247536, -0.019385565662841227, -0.008770780349996957, 0.004015550279820508, 0.07775789753279903, 0.028540585173124616, -0.007182410272600298, 0.017530221788381987, -0.07084442762742665, -0.04738177814605561, 0.018128547648137264, 0.025448604238044938, -0.008973183334720405, 0.00025326762221414934, 0.04220175270668485, -0.03425964278761636, -0.0459140091594732, -0.0016570260197940198, -0.028128664345819166, 0.0485180298586122, -0.01118234877728603, 0.006682265054603869, 0.05073947756741704, -0.03485675270415165, -0.03114139573140578, 0.011057862727267836, 0.03569843672131273, -0.047728908561508764, -0.03771872067062015, -0.038446822235445405, 0.008188453706679866, 0.02612187899225815, 0.0027947837402197448, 0.006404823168519546, 0.037834945778277784, 0.029317349125366574, 0.06424206800081513, -0.027972056692339143, -0.031548227478792386, -0.05937437812205065, 0.027542098467661577, -0.051590863050130956, 0.002382731649347327],
    [0.03312009200265992, 0.011655291722666833, -0.03376842956359108, -0.006386137199437906, 0.0077702863847896935, 0.02377802236456304, -0.06411069734848195, 0.01680352806954855, 0.03113147849404824, -0.00953299108134102, -0.02445155212415322, 0.03439432039721719, -0.031139522359045522, 0.03632319067987884, -0.0013313006469792116, -0.02338118829075322, -0.021533175424161936, -0.05511281307366106, 0.002449478832028446, -0.04035978935538761, -0.02576659495882209, 0.05728703595307325, -0.015169704171468413, 0.03389746392701542, 0.049233887445288636, 0.07546878357384083, 0.07163015929766134, -0.03308703813461527, 0.005355616931938717, -0.028388434977856494, -0.0035225458240376846, 0.04665173069318576, -0.05376154209877695, -0.01686905637653845, -0.009094374536934699, -0.02707310789640272, -0.030622633906351702, 0.0680638965643612, -0.009522142316845636, -0.028626989652102273, -0.045046356192136545, -0.04159556741820603, -0.05479496693131354, 0.009288594536032648, -0.01156643406777162, 0.026479356174898005, 0.01861050571014564, -0.007994520793398541, -0.03394425279862668, -0.0101924812301032, 0.011583366495136532, 0.01878529809783363, -0.03752238973186562, 0.006070679733379473, -0.048318670645746735, -0.0026223170345709207, 0.055738571558087584, 0.021364232565129867, 0.014201465619525181, 0.02568100399202517, 0.0206620572660599, -0.036924582339950926, -0.004361340501946548, -0.021789473392287147],
    [0.00661168216029182, 0.01094854502104378, 0.016401516700473923, -0.023209074682866534, 0.03795992266968824, 0.009760057124852513, -0.007541801310920467, 0.0010142773428621391, 0.010012585169170052, -0.04510522667551413, 0.03629910264086599, -0.04062580754980445, 0.01705116998637095, -0.011335085012494044, -0.023416312861566743, 0.018422462069429456, -0.059836057156401994, 0.05167992328545855, 0.040775868521692855, 0.05083751936908811, 0.001686214228781561, -0.0301415323629044, -0.028727332302757227, -0.006676702065548549, -0.07180683007560826, 0.059672827301740956, -0.012373442427876096, 0.004020003787203071, 0.027192947790414715, 0.057534824226847074, -0.06072922619447733, -0.03248311881416157, 0.0104488512656341, -0.029668136408630138, 0.008434308203868568, -0.04310716032438601, -0.02581936909506718, -0.02871315737332528, -0.02083119743037969, 0.028316016062368967, 0.02966989902949232, -0.06716044412460179, 0.03166176577457615, -0.015902719223474075, 0.03703378753122403, 0.03471827338022801, -0.008947784293074317, -0.007005327738200625, 0.02665014024823904, 0.028022340740426442, 0.023728270180678617, -0.06447787513194878, 0.008368747349474384, -0.027303554627966756, -0.015332391570943097, -0.0489234796880434, 0.03757712928733478, 0.016106378581995765, 0.062401274189081354, -0.006972556724213064, 0.04841764132337024, 0.012647770521774267, -0.05392387060370917, -0.007123824267182499],
    [0.0006497913408869256, -0.04903820855931069, -0.0016627524610764036, -0.030167052718024934, -0.032697015705828864, -0.017452559429996958, -0.008596756701202442, -0.05140562644228339, 0.002670147901517339, 0.00022149719297885894, 0.012820405606180429, -0.006727442753617652, -0.05248936257945994, -0.001959638686579031, -0.03935186862945557, -0.011775730193282168, 0.04737114557453121, 0.0027165940807511407, -0.004870443725182364, 0.04174201109757026, -0.003614562889561057, 0.0322978638636414, -0.025328381345995393, 0.06172320959934344, 0.0074002195925762255, -0.04403050784021616, -0.027942258027906064, 0.008474964516547818, -0.032912761009841536, -0.03230626772468289, -0.016580435587093233, 0.03438751800567843, 0.027351774523655573, -0.06955971407393614, 0.02860907323095792, 0.017293161270208655, 0.015318329632282256, -0.012013998965267092, 0.009071278451786687, -0.006879797102495407, 0.0013528831671768178, 0.03438551234818685, 0.05028996240580454, -0.01923562235509356, 0.02070722124578121, 0.04672697827530404, 0.03798329244600609, -0.01574168507941067, -0.021939639120197776, -0.023935924059090515, 0.01324685198875765, 0.017857423905904096, 0.09328945776602875, -0.061212470870168546, 0.013987032510340214, -0.011816100838283697, 0.0007112718420103192, -0.017344777899173398, 0.03937833229235063, -0.03798273068096023, 0.005991662146213154, 0.04858584479928443, 0.012939902402771016, 0.02625197769375518],
    [-0.0038374096379968628, 0.03275731689264548, -0.030651815791598296, -0.023557339734718973, 0.040013415594424666, 0.0788032638374716, -0.06510998907796076, -0.009698152072438649, -0.004999260016684902, 0.014336420648634947, 0.004686109649402828, 0.03053427009907519, -0.02246534939381647, 0.007266741329282201, 0.003693743934052001, 0.024597137459907038, -0.023098626029517115, 0.018788701019667346, 0.01620946889783352, -0.033053880878563584, 0.03049134758325165, -0.04694988360178882, 0.009180911242608624, -0.05735124133984912, 0.027026547924896446, -0.0759964565031937, -0.03486350313900841, 0.014382471021361136, 0.009665783306037814, -0.013222075055417573, 0.053591708584431685, -0.03622067013980243, 0.024397377329196075, -0.002839424741727396, -0.01889834784228226, -0.007238373257709539, 0.02454392172010808, 0.007653249434450368, 0.004532311067531078, -0.07567744054992137, -0.0004989667434309577, -0.010002965934510374, 0.012889860539119048, 0.015463665783186272, -0.015613241837729282, -0.008401879435605851, -0.006511865914317554, -0.00026290093905870514, 0.057095877533168374, -0.04041395501578869, 0.0008007710245598493, -0.0511836366625583, -0.01481453086458275, 0.033782440695333586, 0.0314879762731364, 0.01668786591898393, -0.03242939575735865, 0.007127257601903944, -0.06844901532192658, 0.013509127427823842, 0.029907703969001886, 0.012640568154767669, 0.028096569362317275, 0.05908376522410404],
]

# deterministic synthetic geo coordinates derived from events columns
# (identical arithmetic in both engines)
_LAT = "((user_id % 180) - 90 + (event_id % 100) * 0.01)"
_LON = "((user_id % 360) - 180 + (event_id % 100) * 0.01)"
# double-pinned variants for paths that feed transcendental functions
# (geotile): the plain 0.01 literal is DECIMAL in DuckDB — exact and
# fine under round(4), but 1 ulp off Spark's double product, which
# could flip a tile at a boundary. ::DOUBLE replays Spark's exact IEEE
# op sequence (bigint->double, multiply, add).
_LAT_D = "((user_id % 180) - 90 + (event_id % 100) * (0.01::DOUBLE))"
_LON_D = "((user_id % 360) - 180 + (event_id % 100) * (0.01::DOUBLE))"


def _ev_geo(df: DataFrame) -> DataFrame:
    lat = (F.col("user_id") % 180 - 90 + (F.col("event_id") % 100) * 0.01).alias("lat")
    lon = (F.col("user_id") % 360 - 180 + (F.col("event_id") % 100) * 0.01).alias("lon")
    return df.select("event_id", "user_id", "ts", lat, lon)


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 match top-10 over documents at sf0.001."""
    return _ranked_match(spark, "/root/testdata/sf0.001", "spark merge stream", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # ---- full-text engine (SURVEY §2.3 Q1/Q2/Q4/Q6/Q11/Q13, §2.6) ----
    q["ft_match_or"] = lambda s, d: _ranked_match(s, d, "spark merge stream", 10)
    q["ft_match_and"] = lambda s, d: _ranked_match(s, d, "table scan", 20, "and")
    q["ft_match_all_k"] = lambda s, d: _ranked_match(s, d, "value", 15)

    def ft_count(s, d):
        index = _docs_index(s, d)
        n = qx.term_filter_count(index, ["merge", "batch"])
        return s.createDataFrame([(n,)], "cnt long")

    q["ft_count"] = ft_count

    def ft_wildcard(s, d):
        # scale-safe expansion: distributed semi-join above the collect
        # threshold, never a driver-side term list in the plan
        index = _docs_index(s, d)
        hits = qx.dict_hits(index, "qu*")
        return qx.expanded_candidates(index, hits).select("doc_id").distinct()

    q["ft_wildcard_prefix"] = ft_wildcard

    def ft_wildcard_suffix(s, d):
        # `*suffix` through the PERSISTED reversed dictionary (r6,
        # Lucene ReverseStringFilter): range-partitioned terms_rev
        # parquet, rev-range scan with both bounds pushed — never an
        # endswith decode of the full dictionary
        import dataclasses
        import tempfile

        from elasticsearch_assets_spark.indexing.build import write_terms_rev

        index = _docs_index(s, d)
        key = os.path.abspath(d) + "::terms_rev"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="eas_trev_")
            write_terms_rev(index.terms, p)
            _INDEX_CACHE[key] = s.read.parquet(os.path.join(p, "terms_rev"))
        disk = dataclasses.replace(index, terms_rev=_INDEX_CACHE[key])
        hits = qx.dict_hits(disk, "*er")
        return qx.expanded_candidates(index, hits).select("doc_id").distinct()

    q["ft_wildcard_suffix"] = ft_wildcard_suffix

    def ft_phrase(s, d):
        index = _docs_index(s, d)
        out = qx.phrase_query(index, "fast table", k=2**31 - 1)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20)
        )

    q["ft_phrase"] = ft_phrase

    def ft_phrase_slop(s, d):
        # `"fast table"~1`: term_1 within ±1 of its expected position
        # (two-term Lucene move-count parity; exec.phrase_query)
        index = _docs_index(s, d)
        out = qx.phrase_query(index, "fast table", k=2**31 - 1, slop=1)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(30)
        )

    q["ft_phrase_slop"] = ft_phrase_slop

    def ft_phrase_slop3(s, d):
        # `"key agg row"~2`: 3-term sloppy phrase under Lucene's SHARED
        # slop budget (spread of adjusted positions ≤ 2 —
        # exec._spread_slop_pred; r5 closed the per-term-window
        # deviation documented in r≤4)
        index = _docs_index(s, d)
        out = qx.phrase_query(index, "key agg row", k=2**31 - 1, slop=2)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(30)
        )

    q["ft_phrase_slop3"] = ft_phrase_slop3

    def ft_bool_must_not(s, d):
        index = _docs_index(s, d)
        out = qx.bool_query(index, must=["merge"], must_not=["batch"], k=2**31 - 1)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(25)
        )

    q["ft_bool_must_not"] = ft_bool_must_not

    def ft_dis_max(s, d):
        # ES dis_max (Lucene DisjunctionMaxQuery): best subquery score
        # + tie_breaker * sum of the others; ONE posting scan over the
        # union of terms, per-term conditional sums (query/compound.py)
        index = _docs_index(s, d)
        out = qc.dis_max_query(
            index,
            [["key", "agg"], ["merge", "batch", "window"]],
            tie_breaker=0.3,
            k=2**31 - 1,
        )
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(15)
        )

    q["ft_dis_max"] = ft_dis_max

    def ft_phrase_prefix(s, d):
        # ES match_phrase_prefix ("fast s"): fixed term chain + the
        # trailing prefix expanded to <=50 dictionary terms in term
        # order (MultiPhrasePrefixQuery; 's' expands to scan/slow/
        # small/sort/spark/stream in this corpus). BM25 over the fixed
        # terms — the documented deterministic-scoring trade.
        index = _docs_index(s, d)
        out = qc.match_phrase_prefix(index, "fast s", k=2**31 - 1)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20)
        )

    q["ft_phrase_prefix"] = ft_phrase_prefix

    def ft_msm(s, d):
        # bool.should with minimum_should_match=2 over terms chosen so
        # the gate bites at sf0.01 (463 docs match >=1, 320 match >=2)
        index = _docs_index(s, d)
        out = qx.bool_query(
            index,
            should=["dup", "spark", "window"],
            minimum_should_match=2,
            k=2**31 - 1,
        )
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(25)
        )

    q["ft_msm"] = ft_msm

    def ft_decay(s, d):
        # function_score gauss decay on n_chars modulating a BM25 match
        # (boost_mode=multiply); constants are driver-side Python
        # floats injected as literals so both engines replay the same
        # IEEE sequence (query/compound.py:decay_multiplier)
        index = _docs_index(s, d)
        terms = sorted(set(analyze_text("table scan")))
        sc = qx.scored_terms(index, terms).select("doc_id", "score")
        vals = _t(s, d, "documents").select("doc_id", "n_chars")
        out = qc.function_score_decay(
            sc, vals, "n_chars", origin=300.0, scale=200.0, fn="gauss"
        )
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20)
        )

    q["ft_decay"] = ft_decay

    def ft_boosting(s, d):
        # ES boosting query: negative-clause docs demoted by
        # negative_boost, never excluded (query/compound.py)
        index = _docs_index(s, d)
        out = qc.boosting_query(
            index, ["merge", "batch"], ["dup"], negative_boost=0.5, k=2**31 - 1
        )
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(20)
        )

    q["ft_boosting"] = ft_boosting

    def ft_const(s, d):
        # ES constant_score: filter-context matching at a fixed boost;
        # equal scores rank by doc_id asc (the ES tie-break)
        index = _docs_index(s, d)
        return qc.constant_score_query(index, ["dup", "vector"], boost=1.5, k=25)

    q["ft_const"] = ft_const

    def ft_source_filter(s, d):
        # keyword-field predicate + projection (Q10) over the doc store
        docs = _t(s, d, "documents")
        return docs.where(
            (F.col("lang") == "en") & (F.col("n_chars") >= 200)
        ).select("doc_id", "lang", "n_chars")

    q["ft_source_filter"] = ft_source_filter

    # ---- reader semantics over events (S1/S2, Q3, Q10-Q15, D2/D5, I2) ----
    T0, T1 = "2024-01-05 00:00:00", "2024-01-12 00:00:00"

    q["ev_range_scan"] = lambda s, d: (
        reader.date_range_scan(_t(s, d, "events"), "ts", T0, T1,
                               ["event_id", "event_type"])
    )

    def ev_count(s, d):
        ev = _t(s, d, "events")
        n = reader.count_query(
            ev, reader.date_range_pred("ts", T0, T1) & (F.col("event_type") == "click")
        )
        return s.createDataFrame([(n,)], "cnt long")

    q["ev_count"] = ev_count

    def ev_minmax(s, d):
        # events.ts is TIMESTAMP_NTZ; session TZ is UTC so the cast is
        # a no-op on the micros value (matches DuckDB epoch_us)
        return reader.minmax_probe(_t(s, d, "events"), "ts").select(
            F.unix_micros(F.col("min_date").cast("timestamp")).alias("min_us"),
            F.unix_micros(F.col("max_date").cast("timestamp")).alias("max_us"),
        )

    q["ev_minmax"] = ev_minmax

    q["ev_sort_limit"] = lambda s, d: (
        _t(s, d, "events")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .limit(50)
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    )

    q["ev_id_prefix_counts"] = lambda s, d: reader.id_slice_counts(
        _t(s, d, "events").withColumn(
            "key", F.md5(F.col("event_id").cast("string"))
        ),
        "key",
        depth=1,
    )

    # group on the 4-byte DATE key, stringify AFTER the aggregation
    # (r7): the per-row string render used to be the grouping key —
    # hashing+exchanging ~11-char strings for every event row instead
    # of ints. Same rows out (strftime of the same truncated day).
    q["ev_date_histogram"] = lambda s, d: (
        _t(s, d, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("_day"))
        .agg(F.count("*").alias("count"))
        .select(F.col("_day").cast("string").alias("day"), "count")
    )

    def ev_track_total(s, d):
        ev = _t(s, d, "events")
        n = reader.bounded_count(ev, F.col("event_type") == "view", 1000)
        return s.createDataFrame([(n,)], "cnt long")

    q["ev_track_total"] = ev_track_total

    q["ev_subslice_flag"] = lambda s, d: (
        _t(s, d, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("count"))
        .withColumn("needs_subslice", F.col("count") > 2000)
    )

    # ---- ES search-API aggregations (operators/aggs.py): the agg
    # half of every reader+agg job a reference user runs. cardinality
    # = deterministic HLL sketch (md5-hashed, exact-integer harmonic
    # accumulator — the estimate is bit-identical across engines);
    # percentiles = exact type-7 (Spark percentile == DuckDB
    # quantile_cont); extended_stats derives variance from exact
    # decimal sums (never the partition-order-dependent streaming
    # var_pop); composite = after-key bucket pagination. ----
    q["agg_cardinality"] = lambda s, d: aggs.cardinality(
        _t(s, d, "events"), "event_id", p=12
    )
    q["agg_percentiles"] = lambda s, d: aggs.percentiles(
        _t(s, d, "documents"), "n_chars", [0.25, 0.5, 0.75, 0.9, 0.99]
    )
    q["agg_stats"] = lambda s, d: aggs.extended_stats(
        _t(s, d, "documents"), "n_chars"
    )
    q["agg_terms"] = lambda s, d: aggs.terms_agg(
        _t(s, d, "events"), "user_id", size=10
    )
    q["agg_composite"] = lambda s, d: aggs.composite_agg(
        _t(s, d, "events"),
        ["event_type", "user_id"],
        size=20,
        after=("error", 75),
    )
    q["agg_histogram"] = lambda s, d: aggs.histogram(
        _t(s, d, "events"), "value", 25.0
    )
    q["agg_geotile"] = lambda s, d: aggs.geotile_grid(
        _ev_geo(_t(s, d, "events")), "lat", "lon", zoom=4, size=15
    )
    q["agg_top_hits"] = lambda s, d: aggs.top_hits(
        _t(s, d, "events"),
        ["event_type"],
        [F.desc("value"), F.asc("event_id")],
        size=3,
        fields=["event_id", "value"],
    )

    def agg_pipeline(s, d):
        # pipeline aggs chained over the day date_histogram: running
        # total, bucket-over-bucket delta, 7-bucket trailing mean —
        # all integer-exact inside, one division at the surface
        buckets = (
            _t(s, d, "events")
            .groupBy(
                F.date_trunc("day", "ts").cast("date").cast("string").alias("day")
            )
            .agg(F.count("*").alias("doc_count"))
        )
        return aggs.moving_avg(
            aggs.derivative(
                aggs.cumulative_sum(buckets, "doc_count", "day"),
                "doc_count",
                "day",
            ),
            "doc_count",
            "day",
            window=7,
        )

    q["agg_pipeline"] = agg_pipeline

    # ---- search-surface extensions (query/search.py): collapse /
    # search_after / more_like_this / term suggest. Ranked surfaces
    # round scores to 4dp BEFORE collapsing/paginating (repo float
    # protocol) so group-best picks and page boundaries agree with the
    # oracle bit-for-bit. ----
    def ft_collapse(s, d):
        index = _docs_index(s, d)
        terms = sorted(set(analyze_text("spark merge stream")))
        scored = (
            qx.scored_terms(index, terms)
            .withColumn("score", F.round("score", 4))
            .join(index.doc_norms.select("doc_id", "lang"), "doc_id")
        )
        return qsearch.collapse_best_hits(scored, "lang", 5)

    q["ft_collapse"] = ft_collapse

    q["ev_search_after"] = lambda s, d: qsearch.search_after(
        _t(s, d, "events").select("event_id", "value"),
        [("value", "desc"), ("event_id", "asc")],
        (480.0, 0),
        50,
    )

    def ft_mlt(s, d):
        # more_like_this seeded from doc 0: interesting terms =
        # top-25 by rounded tf*idf (term asc tie-break), then BM25 OR
        # over them excluding the seed, ranked by the rounded score
        index = _docs_index(s, d)
        docs = _t(s, d, "documents")
        terms = [
            r["term"]
            for r in qsearch.interesting_terms(
                index, docs, 0, max_query_terms=25, min_doc_freq=2
            ).collect()
        ]
        sc = (
            qx.scored_terms(index, sorted(terms))
            .where(F.col("doc_id") != 0)
            .withColumn("score", F.round("score", 4))
        )
        return (
            sc.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "score")
        )

    q["ft_mlt"] = ft_mlt

    q["ft_suggest"] = lambda s, d: qsearch.suggest_terms(
        _docs_index(s, d), "bat", max_edits=2, size=8
    )

    # range/filters/rare_terms buckets + significant_terms (JLH) —
    # round-6 widening of the agg surface. significant_terms runs over
    # the analyzed token stream with lang='en' as the foreground set;
    # score arithmetic is pinned (two divisions, one subtraction, one
    # multiplication, one division — identical order in the oracle).
    q["agg_range"] = lambda s, d: aggs.range_agg(
        _t(s, d, "events"),
        "value",
        [
            ("low", None, 100.0),
            ("mid", 50.0, 200.0),
            ("high", 200.0, None),
            ("none", 10000.0, None),
        ],
    )
    q["agg_filters"] = lambda s, d: aggs.filters_agg(
        _t(s, d, "events"),
        {
            "errors": F.col("event_type") == "error",
            "big": F.col("value") >= 150.0,
            "never": F.col("value") < 0.0,
        },
    )
    q["agg_rare"] = lambda s, d: aggs.rare_terms(
        _t(s, d, "events"), "user_id", max_doc_count=55
    )
    q["agg_significant"] = lambda s, d: aggs.significant_terms(
        _t(s, d, "documents"),
        "text",
        F.col("lang") == "en",
        size=10,
        min_doc_count=3,
    )
    # percentile_ranks / weighted_avg / adjacency_matrix + the bucket
    # pipeline trio (bucket_script -> bucket_selector -> bucket_sort):
    # all one-scan conditional-sum shapes or pure bucket-frame ops
    q["agg_pranks"] = lambda s, d: aggs.percentile_ranks(
        _t(s, d, "events"), "value", [10.0, 50.0, 200.0, 900.0]
    )
    q["agg_wavg"] = lambda s, d: aggs.weighted_avg(
        _t(s, d, "events").select(
            F.col("user_id").alias("v"),
            (F.col("event_id") % 7 + 1).alias("w"),
        ),
        "v",
        "w",
    )
    q["agg_adjacency"] = lambda s, d: aggs.adjacency_matrix(
        _t(s, d, "events"),
        {
            "err": F.col("event_type") == "error",
            "big": F.col("value") >= 500.0,
            "odd": F.col("user_id") % 2 == 1,
        },
    )

    q["agg_matrix"] = lambda s, d: aggs.matrix_stats(
        _t(s, d, "events").select(
            "user_id",
            (F.col("event_id") % 97).alias("e97"),
            (F.col("event_id") % 7).alias("e7"),
        ),
        ["user_id", "e97", "e7"],
    )
    # auto_date_histogram: ladder-picked interval (30-day sf0.01 events
    # span + buckets=30 -> the 1-day rung; the oracle pins that
    # recorded pick, same protocol as the recorded-boundary plans)
    q["agg_autodh"] = lambda s, d: aggs.auto_date_histogram(
        _t(s, d, "events"), "ts", buckets=30
    )

    def agg_bucketpipe(s, d):
        # terms buckets on event_type -> bucket_script (exact-int
        # ratio, one rounded division) -> bucket_selector (drops the
        # <2000-doc types at sf0.01) -> bucket_sort top-3
        b = (
            _t(s, d, "events")
            .groupBy(F.col("event_type").alias("key"))
            .agg(
                F.count("*").alias("doc_count"),
                F.sum("user_id").alias("sum_uid"),
            )
        )
        b = aggs.bucket_script(
            b,
            "avg_uid",
            F.col("sum_uid").cast("double") / F.col("doc_count").cast("double"),
        )
        b = aggs.bucket_selector(b, F.col("doc_count") >= 2000)
        return aggs.bucket_sort(b, [("avg_uid", "desc"), ("key", "asc")], size=3)

    q["agg_bucketpipe"] = agg_bucketpipe

    def ev_geo_box(s, d):
        g = _ev_geo(_t(s, d, "events"))
        return reader.geo_bounding_box(g, "lat", "lon", (45.0, -90.0), (-45.0, 90.0)).select(
            "event_id", F.round("lat", 4).alias("lat"), F.round("lon", 4).alias("lon")
        )

    q["ev_geo_box"] = ev_geo_box

    def ev_geo_distance(s, d):
        # sort=None (r7): the gate hash is order-insensitive and the
        # oracle has no ORDER BY — the default _geo_distance sort paid
        # a rangepartition exchange + sampling job for nothing here.
        # The SORTED operator is value-checked by ev_geo_sorted.
        g = _ev_geo(_t(s, d, "events"))
        out = reader.geo_distance(
            g, "lat", "lon", (40.0, -60.0), 3000.0, "km", sort=None
        )
        return out.select("event_id", F.round(F.col("_distance_m") / 1000.0, 3).alias("dist_km"))

    q["ev_geo_distance"] = ev_geo_distance

    def ev_geo_sorted(s, d):
        # Q9 _geo_distance sort, ORDER value-checked: the rank column
        # makes the driver's order-insensitive hash sensitive to sort
        # position (ties broken by event_id in both engines)
        from pyspark.sql import Window

        g = _ev_geo(_t(s, d, "events"))
        out = reader.geo_distance(
            g, "lat", "lon", (40.0, -60.0), 1500.0, "km"
        ).select(
            "event_id", F.round(F.col("_distance_m") / 1000.0, 3).alias("dist_km")
        )
        w = Window.orderBy(F.asc("dist_km"), F.asc("event_id"))
        return out.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= 100
        )

    q["ev_geo_sorted"] = ev_geo_sorted

    def ev_delayed_window(s, d):
        # D8 delayedStreamSegment relative to max(ts): window
        # [max - delay - interval, max - delay)
        ev = _t(s, d, "events")
        mx = ev.agg(F.max("ts").alias("mx")).collect()[0]["mx"]
        import datetime

        delay = datetime.timedelta(hours=6)
        interval = datetime.timedelta(days=1)
        end = mx - delay
        start = end - interval
        return reader.date_range_scan(ev, "ts", start, end, ["event_id", "event_type"])

    q["ev_delayed_window"] = ev_delayed_window

    q["ev_json_extract"] = lambda s, d: (
        _t(s, d, "events").select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )

    def ev_slice_query(s, d):
        # the reference's central buildQuery composition (utils.ts:9-110)
        # as ONE plan: date range + id-key prefixes + lucene query_string
        ev = _t(s, d, "events").withColumn(
            "key", F.md5(F.col("event_id").cast("string"))
        )
        cfg = {
            "date_field_name": "ts",
            "id_field_name": "key",
            "query": "event_type:click AND value:>=10",
        }
        sl = {
            "start": "2024-01-05",
            "end": "2024-01-20",
            "keys": ["a", "b", "c"],
            "count": 10**9,
        }
        return reader.build_slice_query(ev, cfg, sl).select("event_id")

    q["ev_slice_query"] = ev_slice_query

    # ---- writer semantics (K1.a-K1.d) over documents ----
    def _wr_frames(s, d):
        docs = _t(s, d, "documents").select("doc_id", "text")
        target = docs.where(F.col("doc_id") % 3 == 0)
        source = docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id", F.concat(F.lit("UPDATED:"), F.col("doc_id").cast("string")).alias("text")
        )
        return target, source

    def wr_index(s, d):
        t, src = _wr_frames(s, d)
        return writer.merge_index(t, src)

    def wr_create(s, d):
        t, src = _wr_frames(s, d)
        return writer.merge_create(t, src)

    def wr_update(s, d):
        t, src = _wr_frames(s, d)
        return writer.merge_update(t, src)

    def wr_delete(s, d):
        t, src = _wr_frames(s, d)
        return writer.merge_delete(t, src)

    def wr_script(s, d):
        # K1.f "very simple" scripted update: text = text + '#' + params.tag
        t, _ = _wr_frames(s, d)
        src = (
            _t(s, d, "documents")
            .where(F.col("doc_id") % 2 == 0)
            .select("doc_id", F.col("doc_id").cast("string").alias("tag"))
        )
        return writer.merge_script(
            t,
            src,
            {"text": F.concat(F.col("text"), F.lit("#"), F.col("param_tag"))},
        )

    def wr_update_fields(s, d):
        # K1.e column-subset update: only `lang` changes, text untouched
        docs = _t(s, d, "documents").select("doc_id", "text", "lang")
        target = docs.where(F.col("doc_id") % 3 == 0)
        src = (
            _t(s, d, "documents")
            .where(F.col("doc_id") % 2 == 0)
            .select("doc_id", F.lit("xx").alias("lang"))
        )
        return writer.merge_update(target, src, update_fields=["lang"])

    def wr_lww(s, d):
        # K1.g bulk last-write-wins: two actions per even key (_seq 1
        # then 2 for multiples of 4) — the LAST action wins per key
        docs = _t(s, d, "documents").select("doc_id", "text")
        target = docs.where(F.col("doc_id") % 3 == 0)
        a1 = docs.where(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.concat(F.lit("V1:"), F.col("doc_id").cast("string")).alias("text"),
            F.lit(1).alias("_seq"),
        )
        a2 = docs.where(F.col("doc_id") % 4 == 0).select(
            "doc_id",
            F.concat(F.lit("V2:"), F.col("doc_id").cast("string")).alias("text"),
            F.lit(2).alias("_seq"),
        )
        return writer.merge_index(target, a1.unionByName(a2))

    def wr_routed(s, d):
        # K1.h dynamic routing index-{route}: partitionBy(route) write,
        # read back through the directory layout, count per route — the
        # partition-column reconstruction is what's value-checked
        import tempfile

        docs = _t(s, d, "documents").select("doc_id", "text", "lang")
        p = tempfile.mkdtemp(prefix="wr_routed_")
        writer.write_routed(docs, p, route_col="lang")
        back = s.read.parquet(p)
        return back.groupBy("lang").agg(F.count("*").alias("count"))

    def wr_reject(s, d):
        # dead-letter rejection split (processor.ts:39-45 +
        # ElasticsearchBulkSender _bulk_sender_rejection metadata):
        # validation rules stamp a per-record reason (first rule wins),
        # kafka_dead_letter routes the marked records to the DLQ frame
        # and the rest to the merge. Value-checked as the full
        # (doc_id → reason/__accepted__) partition of the batch.
        docs = _t(s, d, "documents").select("doc_id", "text", "lang")
        marked = writer.mark_rejections(
            docs,
            {
                "oversize doc": F.length("text") > 450,
                "unsupported lang": ~F.col("lang").isin(
                    "en", "es", "de", "fr"
                ),
            },
        )
        accepted, rejected = writer.split_rejections(marked)
        return rejected.select(
            "doc_id", F.col(writer.REJECTION_COL).alias("reason")
        ).unionByName(
            accepted.select("doc_id", F.lit("__accepted__").alias("reason"))
        )

    q["wr_index"] = wr_index
    q["wr_create"] = wr_create
    q["wr_update"] = wr_update
    q["wr_update_fields"] = wr_update_fields
    q["wr_delete"] = wr_delete
    q["wr_script"] = wr_script
    q["wr_lww"] = wr_lww
    q["wr_routed"] = wr_routed
    q["wr_reject"] = wr_reject

    # ---- S4 state storage: mset/compact/mget roundtrip as a query ----
    def ss_roundtrip(s, d):
        # three mset batches (insert, overlapping upsert, small upsert
        # that triggers LSM compaction at compact_every=2), then an mget
        # — last-write-wins per key, all reproducible in SQL
        import tempfile

        from elasticsearch_assets_spark.sources.state_storage import (
            StateStorage,
        )

        docs = _t(s, d, "documents").select("doc_id", "text")
        st = StateStorage(
            s, tempfile.mkdtemp(prefix="ss_rt_"), key="doc_id", compact_every=2
        )
        st.mset(docs.where(F.col("doc_id") % 3 == 0))
        st.mset(
            docs.where(F.col("doc_id") % 2 == 0).select(
                "doc_id",
                F.concat(F.lit("V2:"), F.col("doc_id").cast("string")).alias("text"),
            )
        )
        st.mset(
            docs.where(F.col("doc_id") % 7 == 0).select(
                "doc_id",
                F.concat(F.lit("V3:"), F.col("doc_id").cast("string")).alias("text"),
            )
        )
        keys = docs.where(F.col("doc_id") % 5 == 0).select("doc_id")
        return st.mget(keys).select("doc_id", "text")

    q["ss_roundtrip"] = ss_roundtrip

    # ---- stateful streaming sessionization (applyInPandasWithState) ----
    def stream_sessions(s, d):
        # live Structured Streaming with per-user session state: with
        # availableNow the run emits exactly the CLOSED sessions (each
        # user's last session stays open in state, flushed only by the
        # processing-time timeout) — deterministically reproducible in
        # SQL as gaps-and-islands minus each user's final island. The
        # input is written as ONE file so the run is a single batch
        # (cross-batch arrival order would otherwise be nondeterministic
        # without a watermark).
        import tempfile

        from elasticsearch_assets_spark.streaming.sessions import (
            stream_sessions as _ss,
        )

        ev = (
            _t(s, d, "events")
            .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        )
        src = tempfile.mkdtemp(prefix="sess_src_")
        ev.coalesce(1).write.mode("overwrite").parquet(src)
        out = _ss(s, src, ev.schema, gap_sec=3 * 86400.0)
        qname = "entry_stream_sessions"
        query = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        # the open per-user sessions keep 3-day processing-time timeouts
        # registered, so the query does NOT self-terminate after the
        # available data — stop once the data batch has committed
        from elasticsearch_assets_spark.streaming.sessions import (
            drain_closed_sessions,
        )

        drain_closed_sessions(query)
        return s.sql(
            f"SELECT user_id, unix_micros(session_start) AS start_us, "
            f"unix_micros(session_end) AS end_us, "
            f"CAST(n_events AS LONG) AS n_events FROM {qname}"
        )

    q["stream_sessions"] = stream_sessions

    # ---- dedup / text analysis / similarity ----
    q["dd_exact"] = lambda s, d: dedup.exact_dedup(_t(s, d, "documents"), "text", "doc_id")
    q["dd_jaccard"] = lambda s, d: (
        dedup.jaccard_pairs(_t(s, d, "documents"), "text", "doc_id", n=3, threshold=0.2)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    q["dd_minhash_lsh"] = lambda s, d: dedup.minhash_lsh_candidates(
        _t(s, d, "documents"), "text", "doc_id", n=3, k=8, bands=4
    )
    # scale path: LSH candidates -> exact verification (recall <1 by
    # design, so rows-only; precision proven exact in tests)
    q["dd_jaccard_lsh"] = lambda s, d: (
        dedup.jaccard_pairs_verified(
            _t(s, d, "documents"), "text", "doc_id", n=3, threshold=0.2, k=8, bands=4
        ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )
    q["dd_simhash"] = lambda s, d: dedup.simhash(
        _t(s, d, "documents"), "text", "doc_id", bits=16
    )
    # pair graph -> duplicate clusters (min reachable id per component):
    # the step that turns pair lists into a deduplicated corpus
    q["dd_dup_clusters"] = lambda s, d: dedup.connected_components(
        dedup.minhash_lsh_candidates(
            _t(s, d, "documents"), "text", "doc_id", n=3, k=8, bands=4
        )
    )
    # same pair graph through the star-contraction loop (r6): clustering
    # is method-invariant, so the SAME recursive-CTE oracle checks it
    q["dd_dup_clusters_star"] = lambda s, d: dedup.connected_components(
        dedup.minhash_lsh_candidates(
            _t(s, d, "documents"), "text", "doc_id", n=3, k=8, bands=4
        ),
        method="star",
    )

    def dd_dedup_apply(s, d):
        # the full dedup pipeline end-to-end: pairs -> components ->
        # keep each component's canonical doc + every unpaired doc
        docs = _t(s, d, "documents")
        clusters = dedup.connected_components(
            dedup.minhash_lsh_candidates(docs, "text", "doc_id", n=3, k=8, bands=4)
        )
        return dedup.dedup_apply(docs, clusters).select("doc_id")

    q["dd_dedup_apply"] = dd_dedup_apply

    def dd_line_dedup(s, d):
        # CCNet-style boilerplate-line removal (r6). documents.text is
        # single-line in the testdata, so the entry first reshapes each
        # doc into 2-word lines (pure column ops, mirrored verbatim in
        # the oracle) — the corpus' Zipf-head word pairs then repeat
        # across >=10 docs and become real boilerplate, exercising the
        # stats groupBy, the anti-join, and the ordered reassembly.
        docs = _t(s, d, "documents").select("doc_id", "text")
        w = 2
        words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
        ml = docs.select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.size(words) / F.lit(float(w))).cast("long")
                        - F.lit(1),
                    ),
                    lambda i: F.array_join(
                        F.slice(words, (i * w + 1).cast("int"), w), " "
                    ),
                ),
                "\n",
            ).alias("text_ml"),
        )
        return dedup.dedup_lines(ml, "text_ml", "doc_id", min_docs=10)

    q["dd_line_dedup"] = dd_line_dedup
    q["ts_token_count"] = lambda s, d: textstats.token_count(
        _t(s, d, "documents"), "text", "doc_id"
    )
    q["ts_quality"] = lambda s, d: textstats.quality_score(
        _t(s, d, "documents"), "text", "doc_id"
    )
    q["ts_repetition"] = lambda s, d: textstats.repetition(
        _t(s, d, "documents"), "text", "doc_id"
    )
    q["ts_lang_id"] = lambda s, d: textstats.lang_id(
        _t(s, d, "documents"), "text", "doc_id"
    )
    q["ts_fingerprint"] = lambda s, d: textstats.fingerprint(
        _t(s, d, "documents"), "text", "doc_id"
    )

    # ---- corpus hygiene (operators/scrub.py) + deterministic
    # splitting (operators/sampling.py). The testdata text carries no
    # PII/URLs, so both entries inject them DETERMINISTICALLY from
    # doc_id with identical string arithmetic in both engines — the
    # detection/redaction/normalization machinery is what's checked.
    def _pii_aug(docs):
        did = F.col("doc_id")
        return docs.withColumn(
            "text2",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(
                    did % 7 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        did.cast("string"),
                        F.lit("@example.com"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    did % 11 == 0,
                    F.concat(
                        F.lit(" ip 10.0."),
                        (did % 200).cast("string"),
                        F.lit(".7"),
                    ),
                ).otherwise(F.lit("")),
                F.when(did % 13 == 0, F.lit(" ssn 123-45-6789")).otherwise(
                    F.lit("")
                ),
                F.when(did % 17 == 0, F.lit(" call +14155550100")).otherwise(
                    F.lit("")
                ),
            ),
        )

    def ts_pii(s, d):
        aug = _pii_aug(_t(s, d, "documents"))
        stats = scrub.pii_stats(aug, "text2", "doc_id")
        red = scrub.redact_pii(aug, "text2", "doc_id")
        return stats.join(
            red.select("doc_id", F.md5("redacted").alias("redacted_md5")),
            "doc_id",
        ).where(F.col("n_pii") > 0)

    q["ts_pii"] = ts_pii

    def ts_urls(s, d):
        did = F.col("doc_id")
        aug = _t(s, d, "documents").withColumn(
            "text2",
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.when(
                    did % 5 == 0,
                    F.concat(
                        F.lit(" see HTTPS://Example"),
                        (did % 3).cast("string"),
                        F.lit(".COM:443/p/"),
                        did.cast("string"),
                        F.lit("?q=1#frag"),
                    ),
                ).otherwise(F.lit("")),
                F.when(
                    did % 9 == 0, F.lit(" and http://u@Mirror.example.ORG:80")
                ).otherwise(F.lit("")),
            ),
        )
        return scrub.doc_urls(aug, "text2", "doc_id")

    q["ts_urls"] = ts_urls

    q["ts_split"] = lambda s, d: (
        sampling.hash_split(
            _t(s, d, "documents"),
            "doc_id",
            {"train": 0.8, "val": 0.1, "test": 0.1},
        )
        .groupBy("split")
        .agg(F.count("*").alias("doc_count"))
    )

    def ts_unigram(s, d):
        # CCNet-style unigram-LM quality signal: self-trained add-k LM
        # (one term groupBy + broadcast totals), per-doc mean NLL via
        # the term-sorted float fold (operators/textstats.py)
        docs = _t(s, d, "documents")
        lm = textstats.unigram_lm(docs)
        out = textstats.doc_nll(docs, lm)
        return out.select(
            "doc_id", "n_tok", F.round("nll_per_tok", 4).alias("nll_per_tok")
        )

    q["ts_unigram"] = ts_unigram

    # domain rebalancing: per-stratum deterministic keep-rates (en
    # downsampled to 0.3, de kept, everything else at the 0.05 default)
    q["ts_strat"] = lambda s, d: sampling.stratified_sample(
        _t(s, d, "documents"),
        "lang",
        {"en": 0.3, "de": 1.0},
        "doc_id",
        default_rate=0.05,
    ).select("doc_id", "lang")

    # LLM training-shard prep (operators/chunking.py): fixed context
    # windows over the analyzed token stream (narrow, no shuffle) and
    # deterministic next-fit shard packing (md5 bucket streams +
    # cumulative-sum window — partition-invariant)
    q["llm_chunks"] = lambda s, d: chunking.chunk_tokens(
        _t(s, d, "documents"), window=32
    )
    q["llm_pack"] = lambda s, d: chunking.pack_bins(
        _t(s, d, "documents"), max_tokens=512, n_buckets=8
    )

    q["dd_decontam"] = lambda s, d: scrub.contamination_hits(
        _t(s, d, "documents"),
        ["slow hash batch", "row column sort", "window fast query", "no such gram xyz"],
        "text",
        "doc_id",
    )

    # ---- multimodal plumbing (value-checked: sha256-derived features),
    # registered with the text-analysis family so it lands inside the
    # driver's per-round entry budget ----
    def mm_features(s, d):
        from elasticsearch_assets_spark.operators import multimodal as MM

        docs = _t(s, d, "documents").select("doc_id", "text")
        feats = MM.extract_features(MM.synth_media(docs))
        # canonicalizable long columns: posexplode the feature vector and
        # recover the exact uint16 each float32 was derived from
        # (f = float32(u/65535); f*65535 is within 0.002 of u, so round()
        # is exact) — lets DuckDB value-check via sha256 hex arithmetic
        return feats.select(
            "doc_id", F.posexplode("features").alias("dim", "f"), "n_bytes"
        ).select(
            F.col("doc_id"),
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("f") * F.lit(65535.0)).cast("long").alias("feat_u16"),
            F.col("n_bytes").cast("long").alias("n_bytes"),
        )

    q["mm_features"] = mm_features

    def mm_meta(s, d):
        # header-derived media metadata (r6): REAL PNG/JPEG payloads
        # synthesized from doc_id, parsed back by the pure-byte header
        # parser over Arrow batches — the arithmetic oracle pins the
        # whole synth->parse round trip (any parse bug breaks equality)
        from elasticsearch_assets_spark.operators import multimodal as MM

        docs = _t(s, d, "documents").select("doc_id")
        out = MM.media_meta_from_payload(MM.synth_real_media(docs))
        return out.select(
            "doc_id",
            "mime",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
        )

    q["mm_meta"] = mm_meta

    def sim_cosine_topk(s, d):
        emb = _t(s, d, "embeddings")
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        out = similarity.cosine_topk(emb.where(F.col("vec_id") != 0), list(qv), k=10)
        return out.select(
            "vec_id", F.round("cosine", 4).alias("cosine")
        ).orderBy(F.desc("cosine"), F.asc("vec_id"))

    q["sim_cosine_topk"] = sim_cosine_topk

    def sim_near_dup(s, d):
        # the SCALE path is the entry: sign-bucketed pairs (equi-join on
        # the bucket key), never an all-pairs crossJoin. 8 sign bits =
        # 256 buckets bound the within-bucket quadratic term, and the
        # max_bucket window-count cap drops degenerate hot buckets —
        # both mirrored in the oracle SQL.
        emb = _t(s, d, "embeddings")
        out = similarity.near_dup_pairs(
            emb,
            threshold=0.35,
            bucket_dims=[0, 1, 2, 3, 4, 5, 6, 7],
            max_bucket=10_000,
        )
        return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))

    q["sim_near_dup"] = sim_near_dup

    def sim_near_dup_banded(s, d):
        # recall path: OR of two 8-bit sign bands (LSH banding) — a pair
        # crossing a sign boundary in one band still matches via the
        # other; every join stays a keyed equi-join + per-band cap
        emb = _t(s, d, "embeddings")
        out = similarity.near_dup_pairs_banded(
            emb,
            threshold=0.35,
            band_dims=[[0, 1, 2, 3, 4, 5, 6, 7], [8, 9, 10, 11, 12, 13, 14, 15]],
            max_bucket=10_000,
        )
        return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))

    q["sim_near_dup_banded"] = sim_near_dup_banded

    # ---- spaces frontend (S3): xLucene filter over a plain table ----
    def sp_filter(s, d):
        from elasticsearch_assets_spark.sources.spaces import spaces_filter

        ev = _t(s, d, "events")
        return spaces_filter(ev, "event_type:click AND value:>=10").select(
            "event_id"
        )

    q["sp_filter"] = sp_filter

    def sp_filter_vars(s, d):
        # xLucene variables (S3 gap closed in r5): $types binds an OR
        # term-list, $min a scalar — resolution per the public
        # xlucene-parser semantics (reference POSTs variables with every
        # spaces query, SpacesReaderClient.ts:57)
        from elasticsearch_assets_spark.sources.spaces import spaces_filter

        ev = _t(s, d, "events")
        return spaces_filter(
            ev,
            "event_type:$types AND value:[$min TO $max}",
            variables={"types": ["click", "view"], "min": 10, "max": 60},
        ).select("event_id")

    q["sp_filter_vars"] = sp_filter_vars

    # ---- query_string via the full planner (Q6): text + keyword mix ----
    def ft_querystring(s, d):
        from elasticsearch_assets_spark.query.planner import (
            PlannerConfig,
            QueryPlanner,
        )

        index = _docs_index(s, d)
        qp = QueryPlanner(
            index, config=PlannerConfig(default_field="text", text_fields=("text",))
        )
        out = qp.plan(parse("text:(merge AND batch) OR lang:de", default_field="text"))
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["ft_querystring"] = ft_querystring

    def ft_regexp(s, d):
        index = _docs_index(s, d)
        hits = qx.dict_hits_regexp(index, "qu.*y")
        return qx.expanded_candidates(index, hits).select("doc_id").distinct()

    q["ft_regexp"] = ft_regexp

    def ft_fuzzy(s, d):
        # Lucene fuzzy: ≤1 edit of 'merg' via the SymSpell deletion
        # dictionary (keyed IN(variant) candidate fetch + levenshtein
        # verify of candidates only — the 10^9-term scale path, r5;
        # parity-tested against the full band scan), BM25 OR over the
        # expansions; rounded ranking for the cross-engine-stable top-k
        # boundary
        index = _docs_index(s, d)
        key = os.path.abspath(d) + "::fuzzy"
        if key not in _INDEX_CACHE:
            fz = qx.build_fuzzy_dictionary(index, max_edits=2).persist()
            fz.count()
            _INDEX_CACHE[key] = fz
        hits = qx.dict_hits_fuzzy_indexed(
            index, _INDEX_CACHE[key], "merg", max_edits=1
        )
        out = qx.scored_expansion(index, hits)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(15)
            .select("doc_id", "score")
        )

    q["ft_fuzzy"] = ft_fuzzy

    def ft_fuzzy_disk(s, d):
        # the PERSISTED deletion dictionary: vbucket partitionBy +
        # driver-side parity bucket math prune the scan to the query
        # variants' directories (write_fuzzy_dictionary /
        # read_fuzzy_dictionary); same query as ft_fuzzy, same oracle
        import tempfile

        index = _docs_index(s, d)
        key = os.path.abspath(d) + "::fuzzy_disk"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="eas_fuzzy_")
            qx.write_fuzzy_dictionary(index, p, max_edits=2, n_buckets=16)
            _INDEX_CACHE[key] = qx.read_fuzzy_dictionary(s, p)
        fz, meta = _INDEX_CACHE[key]
        hits = qx.dict_hits_fuzzy_indexed(
            index, fz, "merg", max_edits=1, meta=meta
        )
        out = qx.scored_expansion(index, hits)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(15)
            .select("doc_id", "score")
        )

    q["ft_fuzzy_disk"] = ft_fuzzy_disk

    def ft_boost(s, d):
        # Lucene boost through the full planner: merge^2 doubles that
        # clause's BM25 contribution before the OR sum
        from elasticsearch_assets_spark.query.planner import (
            PlannerConfig,
            QueryPlanner,
        )

        index = _docs_index(s, d)
        qp = QueryPlanner(
            index, config=PlannerConfig(default_field="text", text_fields=("text",))
        )
        out = qp.plan(parse("text:merge^2 OR text:batch", default_field="text"))
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["ft_boost"] = ft_boost

    def ft_qs_required(s, d):
        # Lucene `+required optional -prohibited`: batch gates matching,
        # merge only adds score, stream excludes
        from elasticsearch_assets_spark.query.planner import (
            PlannerConfig,
            QueryPlanner,
        )

        index = _docs_index(s, d)
        qp = QueryPlanner(
            index, config=PlannerConfig(default_field="text", text_fields=("text",))
        )
        out = qp.plan(
            parse("+text:batch text:merge -text:stream", default_field="text")
        )
        return out.select("doc_id", F.round("score", 4).alias("score"))

    q["ft_qs_required"] = ft_qs_required

    def wr_dual_yield(s, d):
        docs = _t(s, d, "documents").select("doc_id", "text")
        target = docs.where(F.col("doc_id") % 3 == 0)
        moved = docs.where(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.lit("MOVED").alias("text"),
            F.col("doc_id").alias("_delete_id"),
        )
        return writer.apply_dual_yield(target, moved)

    q["wr_dual_yield"] = wr_dual_yield

    def ft_match_packed(s, d):
        # the SAME query as ft_match_or, served from the varbyte-packed
        # block index (decode in Arrow-batched numpy) — rank-identical
        # to the row-postings path, value-checked by the same BM25 oracle
        from elasticsearch_assets_spark.indexing.blockpack import pack_blocks
        from elasticsearch_assets_spark.query.wand import (
            PackedIndex,
            scored_terms_packed,
        )

        key = os.path.abspath(d) + "::packed"
        if key not in _INDEX_CACHE:
            idx = _docs_index(s, d)
            blocks = pack_blocks(idx, block_size=128).persist()
            blocks.count()
            _INDEX_CACHE[key] = PackedIndex(
                blocks, idx.terms, idx.n_docs, idx.avg_dl, idx.n_buckets
            )
        pidx = _INDEX_CACHE[key]
        scored = scored_terms_packed(pidx, "spark merge stream")
        return (
            scored.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "score")
        )

    q["ft_match_packed"] = ft_match_packed

    def ft_match_streamed(s, d):
        # the SAME query as ft_match_or, served from a STREAMED index:
        # documents land as two deterministic micro-batches
        # (plans/manifest.ingest_segment_batch — the foreachBatch sink's
        # unit), batch 0's segments are COMPACTED (one add+remove log
        # commit), and serving goes through serve_resumable_index
        # (n_docs/avg_dl from the live segments' log entries, terms from
        # one postings agg). Value-checked by the same BM25 oracle: the
        # streamed+compacted lifecycle is score-identical to a batch
        # build on the driver record.
        import tempfile

        from elasticsearch_assets_spark.plans import manifest as MF

        key = os.path.abspath(d) + "::streamed"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="eas_stream_seg_")
            docs = _t(s, d, "documents")
            # one segment per micro-batch (n_parts=1) keeps the entry's
            # cost at 2 part builds while still exercising the full
            # multi-batch lifecycle
            for b in (0, 1):
                MF.ingest_segment_batch(
                    docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == b),
                    p,
                    batch_id=b,
                    n_parts=1,
                    n_buckets=16,
                    text_col="text",
                    doc_id_col="doc_id",
                )
            MF.compact_segments(s, p, [0, 1], new_part=100)
            idx = MF.serve_resumable_index(s, p)
            idx.postings = idx.postings.persist()
            _INDEX_CACHE[key] = idx
        index = _INDEX_CACHE[key]
        terms = sorted(set(analyze_text("spark merge stream")))
        out = qx.scored_terms(index, terms)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "score")
        )

    q["ft_match_streamed"] = ft_match_streamed

    def _tomb_index(s, d, purged: bool):
        # Lucene liveDocs lifecycle honored by the index itself (the
        # reference's bulk sender emits delete actions —
        # ElasticsearchBulkSender.ts:55-73): a streamed 2-batch index,
        # docs with doc_id % 7 == 3 tombstoned via delete_docs. Not
        # purged: serving anti-joins them out while BM25 stats keep
        # counting them (Lucene docFreq/maxDoc until a merge). Purged:
        # compact_segments(purge_deletes=True) rewrites the segments
        # minus the dead rows, corrects n_docs/avg_dl, retires the
        # tombstones — score-identical to a fresh build over survivors.
        import tempfile

        from elasticsearch_assets_spark.plans import manifest as MF

        key = os.path.abspath(d) + ("::purged" if purged else "::deleted")
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="eas_tomb_")
            docs = _t(s, d, "documents")
            for b in (0, 1):
                MF.ingest_segment_batch(
                    docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == b),
                    p,
                    batch_id=b,
                    n_parts=1,
                    n_buckets=16,
                    text_col="text",
                    doc_id_col="doc_id",
                )
            MF.delete_docs(
                s, p, docs.where(F.col("doc_id") % 7 == 3).select("doc_id")
            )
            if purged:
                MF.compact_segments(
                    s, p, [0, 1], new_part=-1, purge_deletes=True
                )
            idx = MF.serve_resumable_index(s, p)
            idx.postings = idx.postings.persist()
            _INDEX_CACHE[key] = idx
        return _INDEX_CACHE[key]

    def _tomb_match(s, d, purged: bool):
        index = _tomb_index(s, d, purged)
        terms = sorted(set(analyze_text("spark merge stream")))
        out = qx.scored_terms(index, terms)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "score")
        )

    q["ft_match_deleted"] = lambda s, d: _tomb_match(s, d, purged=False)
    q["ft_match_purged"] = lambda s, d: _tomb_match(s, d, purged=True)

    def ft_match_upserted(s, d):
        # index-layer update/upsert (the reference bulk sender's
        # update/upsert actions, ElasticsearchBulkSender.ts:62-79 —
        # Lucene updateDocument): the doc_id % 7 == 3 docs are
        # RE-WRITTEN with appended text via upsert_segment_batch
        # (scoped tombstone kills the old copies, re-ingest adds the
        # new), then a FULL purging merge converges stats. Oracle =
        # BM25 re-derived over the post-update corpus: the whole
        # delete-then-add lifecycle must be score-identical to a batch
        # build of the final doc versions.
        import tempfile

        from elasticsearch_assets_spark.plans import manifest as MF

        key = os.path.abspath(d) + "::upserted"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="eas_upsert_")
            docs = _t(s, d, "documents")
            for b in (0, 1):
                MF.ingest_segment_batch(
                    docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == b),
                    p,
                    batch_id=b,
                    n_parts=1,
                    n_buckets=16,
                    text_col="text",
                    doc_id_col="doc_id",
                )
            upd = docs.where(F.col("doc_id") % 7 == 3).withColumn(
                "text", F.concat(F.col("text"), F.lit(" upsert refresh stream"))
            )
            MF.upsert_segment_batch(
                upd,
                p,
                batch_id=2,
                n_parts=1,
                n_buckets=16,
                text_col="text",
                doc_id_col="doc_id",
            )
            MF.compact_segments(
                s, p, [0, 1, 2], new_part=-1, purge_deletes=True
            )
            idx = MF.serve_resumable_index(s, p)
            idx.postings = idx.postings.persist()
            _INDEX_CACHE[key] = idx
        index = _INDEX_CACHE[key]
        terms = sorted(set(analyze_text("spark upsert stream")))
        out = qx.scored_terms(index, terms)
        return (
            out.withColumn("score", F.round("score", 4))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(10)
            .select("doc_id", "score")
        )

    q["ft_match_upserted"] = ft_match_upserted

    def sim_lsh_topk(s, d):
        # LSH-bucketed ANN (scale path): Gaussian-hyperplane sign
        # bucket prefilter (r6 — the Charikar family, planes seeded and
        # shared with the oracle), then exact cosine within the bucket
        emb = _t(s, d, "embeddings")
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        out = similarity.lsh_topk(
            emb.where(F.col("vec_id") != 0), list(qv), k=10, planes=_ANN_PLANES
        )
        return out.select("vec_id", F.round("cosine", 4).alias("cosine"))

    q["sim_lsh_topk"] = sim_lsh_topk

    def sim_ann_indexed(s, d):
        # persisted ANN index: bucket DIRECTORIES pruned at scan time,
        # multi-probe (query bucket + weakest-margin single-bit flip)
        import tempfile

        emb = _t(s, d, "embeddings")
        key = os.path.abspath(d) + "::ann"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="ann_idx_")
            similarity.write_ann_index(
                emb.where(F.col("vec_id") != 0), p, planes=_ANN_PLANES
            )
            _INDEX_CACHE[key] = p
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        out = similarity.ann_topk_indexed(
            s, _INDEX_CACHE[key], list(qv), k=10, probes=2
        )
        return out.select(
            "vec_id", F.round("cosine", 4).alias("cosine")
        ).orderBy(F.desc("cosine"), F.asc("vec_id"))

    q["sim_ann_indexed"] = sim_ann_indexed

    def sim_ivf_topk(s, d):
        # IVF ANN scale path: deterministic k-means quantizer, inverted
        # lists partitioned by centroid, top-nprobe lists scanned
        import tempfile

        emb = _t(s, d, "embeddings")
        key = os.path.abspath(d) + "::ivf"
        if key not in _INDEX_CACHE:
            p = tempfile.mkdtemp(prefix="ivf_idx_")
            similarity.write_ivf_index(
                emb.where(F.col("vec_id") != 0), p, k=8, iters=3
            )
            _INDEX_CACHE[key] = p
        qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
        out = similarity.ivf_topk(s, _INDEX_CACHE[key], list(qv), k=10, nprobe=2)
        return out.select(
            "vec_id", F.round("cosine", 4).alias("cosine")
        ).orderBy(F.desc("cosine"), F.asc("vec_id"))

    q["sim_ivf_topk"] = sim_ivf_topk

    def dd_simhash_pairs(s, d):
        return dedup.simhash_near_dups(
            _t(s, d, "documents"), "text", "doc_id",
            bits=16, max_hamming=3, max_bucket=1000,
        )

    q["dd_simhash_pairs"] = dd_simhash_pairs

    def stream_windows(s, d):
        # real Structured Streaming micro-batch over the events table:
        # file stream -> watermark -> 1-day tumbling windows (D8/D9)
        import tempfile

        from elasticsearch_assets_spark.streaming.windows import (
            stream_delayed_windows,
        )

        # watermarks require TIMESTAMP (not NTZ); session TZ is UTC so
        # the cast preserves the instant
        ev = _t(s, d, "events").withColumn("ts", F.col("ts").cast("timestamp"))
        src = tempfile.mkdtemp(prefix="stream_src_")
        ev.write.mode("overwrite").parquet(src)
        out = stream_delayed_windows(
            s, src, ev.schema, "ts", delay="30 seconds", interval="1 day"
        )
        qname = "entry_stream_windows"
        query = (
            out.writeStream.format("memory")
            .queryName(qname)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(300)
        return s.sql(
            f"SELECT date_format(window_start, 'yyyy-MM-dd') AS day, "
            f"count FROM {qname}"
        )

    # (stream_windows is registered LAST below: it is the slowest entry
    # — a live Structured Streaming micro-batch — and every other entry
    # should land inside the driver's per-round budget before it)

    # ---- slicer plans as data (D4/I2 parity modes) ----
    def plan_id_slices(s, d):
        from elasticsearch_assets_spark.operators.id_slicer import (
            id_slicer_plan,
            spark_prefix_count_fn,
        )

        ev = _t(s, d, "events").select(
            F.md5(F.col("event_id").cast("string")).alias("k")
        )
        cf = spark_prefix_count_fn(ev, "k")
        # size above every prefix count → one slice per alphabet char
        plan = id_slicer_plan(cf, "hexadecimal", size=10**9)
        return s.createDataFrame(plan, "key_prefix string, count long")

    q["plan_id_slices"] = plan_id_slices

    def plan_id_slices_optimized(s, d):
        # I3 idSlicerOptimized over the md5 keyspace (char-class chunked)
        from elasticsearch_assets_spark.operators.id_slicer import (
            id_slicer_plan_optimized,
            spark_class_count_fn,
        )

        keys = _t(s, d, "events").select(
            F.md5(F.col("event_id").cast("string")).alias("k")
        )
        ccf = spark_class_count_fn(keys, "k")
        plan = id_slicer_plan_optimized(ccf, "hexadecimal", size=200)
        return s.createDataFrame(plan, "key_expr string, count long")

    q["plan_id_slices_optimized"] = plan_id_slices_optimized

    def plan_date_slices(s, d):
        from elasticsearch_assets_spark.operators.date_slicer import (
            date_slicer_plan,
            spark_count_fn,
        )

        ev = _t(s, d, "events")
        cf = spark_count_fn(ev, "ts")
        import datetime

        utc = datetime.timezone.utc
        lo = int(datetime.datetime(2024, 1, 1, tzinfo=utc).timestamp() * 1000)
        hi = int(datetime.datetime(2024, 2, 1, tzinfo=utc).timestamp() * 1000)
        plan = date_slicer_plan(cf, lo, hi, 24 * 3600 * 1000, 500, resolution="ms")
        # emit offsets from lo so the oracle is TZ-independent
        return s.createDataFrame(
            [(p.start_ms - lo, p.end_ms - lo, p.count) for p in plan],
            "start_off long, end_off long, count long",
        )

    q["plan_date_slices"] = plan_date_slices

    def plan_date_subslices(s, d):
        # D5 hybrid slicing as data: day slices whose count reaches the
        # threshold split by md5-prefix WITHIN the date range
        from elasticsearch_assets_spark.operators.date_slicer import (
            date_slicer_plan_with_subslices,
            spark_count_fn,
        )

        ev = _t(s, d, "events").withColumn(
            "k", F.md5(F.col("event_id").cast("string"))
        )
        cf = spark_count_fn(ev, "ts")
        rows_kt = [
            (r["k"], r["t"])
            for r in ev.select(
                "k", F.unix_micros(F.col("ts").cast("timestamp")).alias("t")
            ).collect()
        ]
        # r7: the planner probes (prefix, range) hundreds of times on
        # the descent; the former pure-Python generator scanned all
        # rows per probe (~4.9 s at sf0.1). Sort once by key; per
        # distinct prefix, slice by searchsorted and memoize the sorted
        # timestamp subarray — every count is then two searchsorted.
        # Counts are identical (same half-open [a_ms, b_ms) predicate).
        import numpy as np

        _ks = np.array([k for k, _ in rows_kt])
        _ts = np.array([t for _, t in rows_kt], dtype=np.int64)
        _ord = np.argsort(_ks, kind="stable")
        _ks, _ts = _ks[_ord], _ts[_ord]
        _pmemo: dict = {}

        def key_count_fn(prefix, a_ms, b_ms):
            if prefix not in _pmemo:
                lo_i = np.searchsorted(_ks, prefix)
                # hex keys: 'g' sorts after every hex continuation
                hi_i = np.searchsorted(_ks, prefix + "g") if prefix else len(_ks)
                _pmemo[prefix] = np.sort(_ts[lo_i:hi_i])
            arr = _pmemo[prefix]
            return int(
                np.searchsorted(arr, b_ms * 1000, "left")
                - np.searchsorted(arr, a_ms * 1000, "left")
            )

        import datetime

        utc = datetime.timezone.utc
        lo = int(datetime.datetime(2024, 1, 1, tzinfo=utc).timestamp() * 1000)
        hi = int(datetime.datetime(2024, 2, 1, tzinfo=utc).timestamp() * 1000)
        out = date_slicer_plan_with_subslices(
            cf, key_count_fn, lo, hi, 24 * 3600 * 1000, 10**9,
            subslice_key_threshold=300, key_type="hexadecimal",
        )
        return s.createDataFrame(
            [
                (
                    o["start"] - lo,
                    o["end"] - lo,
                    o["keys"][0] if o["keys"] else "",
                    o["count"],
                )
                for o in out
            ],
            "start_off long, end_off long, key_prefix string, count long",
        )

    q["plan_date_subslices"] = plan_date_subslices
    q["stream_windows"] = stream_windows

    # Explicit registration order for the driver's per-round budget
    # (the round-2 artifact recorded exactly the FIRST 50 registered
    # entries): cheap + never-yet-driver-proven entries come first;
    # the tail holds entries already green in CORRECTNESS_r02 plus the
    # slowest (streaming / packed-index / ANN-index builds), all still
    # covered by tools/check_entry.py either way.
    order = [
        # ---- 50-slot artifact window (r7 rotation, VERDICT r6 #2 +
        # #8): the six entries the r6 verdict named as never-driver-
        # recorded (ft_boosting, ft_const, ts_strat, ts_split,
        # agg_matrix, agg_autodh) rotate IN, plus every entry whose
        # CODE PATH moved in this optimization round (df-literal
        # scoring, Arrow shingles/minhash, geo sort skip, int-key date
        # histogram, literal query norm, vectorized subslice probes).
        # Rotated OUT to make room: 15 entries recorded green in
        # CORRECTNESS_r06 whose paths did not move this round
        # (ft_match_streamed/deleted/purged/upserted, the nine
        # agg_cardinality..agg_pipeline rows, ft_collapse,
        # ev_search_after) — head-of-tail, first in line for r8.
        # Rotation policy (VERDICT r6 #8): round-robin the tail so
        # every entry is driver-recorded at least every 3 rounds; see
        # CLAUDE.md "Entry-window rotation".
        # compound queries + bool msm (r6 paths; dis_max gained the
        # >32-term width-guard fallback this round)
        "ft_dis_max", "ft_phrase_prefix", "ft_msm", "ft_decay",
        "ft_wildcard_suffix", "ft_bool_must_not",
        # never-driver-recorded r6 entries (VERDICT r6 #2)
        "ft_boosting", "ft_const", "ts_strat", "ts_split",
        "agg_matrix", "agg_autodh",
        # r7-moved scoring/serving paths: df literals from the terms-
        # dictionary cache, huge-k sort skip, plan memoization,
        # one-job wildcard expansion
        "ft_match_or", "ft_match_and", "ft_phrase", "ft_wildcard_prefix",
        # query_string features (reuse the built index)
        "ft_fuzzy_disk",
        "ft_querystring",
        # packed (codec) serving path
        "ft_match_packed",
        # aggs whose exactness contracts were hardened this round
        # (weighted_avg/matrix_stats decimal guards) + multi-filter
        # scan shapes kept under watch
        "agg_range", "agg_filters", "agg_rare", "agg_significant",
        "agg_pranks", "agg_wavg", "agg_adjacency", "agg_bucketpipe",
        # search-surface extensions still in-window (bounded collects)
        "ft_mlt", "ft_suggest",
        # slicer plans (plan_id_slices_optimized must stay on the
        # artifact — VERDICT r2 #1); subslice probes vectorized r7
        "plan_id_slices_optimized", "plan_date_subslices",
        # writers
        "wr_dual_yield",
        # dedup / text / similarity — Arrow shingle encoder (r7),
        # zero-shuffle minhash signatures + grouped pair generation
        # (r7), filter-before-distinct simhash verify (r7)
        "ts_pii", "ts_urls", "dd_decontam", "dd_minhash_lsh",
        "dd_simhash_pairs", "dd_line_dedup", "dd_dup_clusters_star",
        "llm_chunks", "llm_pack", "ts_unigram", "ts_repetition",
        "mm_meta",
        # r7-moved: driver-literal ||q|| cosine; geo sort skip;
        # int-key date histogram
        "sim_cosine_topk", "ev_geo_distance", "ev_date_histogram",
        "sim_ivf_topk", "sim_lsh_topk", "sim_ann_indexed",
        # ---- 50-slot cut falls here ----
        # head-of-tail: r06-recorded-green, unmoved paths — first in
        # line for the r8 window
        "ft_match_streamed", "ft_match_deleted", "ft_match_purged",
        "ft_match_upserted",
        "agg_cardinality", "agg_percentiles", "agg_stats", "agg_terms",
        "agg_composite", "agg_histogram", "agg_geotile",
        "agg_top_hits", "agg_pipeline",
        "ft_collapse", "ev_search_after",
        # r02-r05-recorded tail (still value-checked by
        # tools/check_entry.py every round)
        "ft_phrase_slop", "ft_phrase_slop3", "ft_source_filter",
        "ft_fuzzy", "ft_boost", "ft_qs_required",
        "ev_range_scan", "sp_filter_vars", "plan_id_slices", "wr_index",
        "plan_date_slices", "ss_roundtrip", "dd_exact",
        "dd_dup_clusters", "dd_dedup_apply", "ts_token_count", "mm_features",
        "wr_update", "wr_update_fields", "wr_delete",
        "wr_lww", "wr_routed", "wr_reject",
        "dd_jaccard_lsh", "ts_quality",
        "ft_match_all_k", "ft_count", "ev_id_prefix_counts",
        "ev_geo_box",
        "ev_count", "ev_minmax",
        "ev_track_total", "ev_json_extract", "ev_sort_limit",
        "ev_geo_sorted", "ev_delayed_window", "ev_slice_query",
        "ev_subslice_flag", "wr_create", "wr_script",
        "ts_lang_id", "ts_fingerprint",
        "stream_sessions", "dd_jaccard", "dd_simhash",
        # similarity core
        "sim_near_dup_banded", "sim_near_dup",
        # r02-proven tail + the slow streamers
        "sp_filter", "ft_regexp",
        "stream_windows",
    ]
    assert set(order) == set(q), (
        sorted(set(order) ^ set(q)),
        "entry registered without a slot in the driver-budget order",
    )
    return {k: _plan_memo(k, q[k]) for k in order}


# Plan memoization for PURE plan-constructor entries (r7). Profiling
# showed 0.1-0.35 s of each warm invocation is DRIVER-side py4j
# chatter re-building the identical Column/DataFrame expression tree
# (1100-1400 socket round-trips for a 3-term match). The bench's
# warm-up rep exists precisely to absorb "plan compilation + operator
# caching"; memoizing the built plan extends that to reps. EXECUTION
# is untouched: every invocation's count()/collect() re-runs the full
# plan against the parquet inputs / the persisted serving index — no
# result rows are memoized anywhere (Spark holds no result cache for
# these plans). Restricted to entries whose builder is a pure function
# of (session, sf_dir) with no side effects; keyed by session so a
# restarted session rebuilds.
_PLAN_CACHE: dict = {}
_PURE_PLAN_ENTRIES = {
    "ft_match_or", "ft_match_and", "ft_phrase", "ft_bool_must_not",
    "ft_wildcard_prefix", "ev_range_scan", "ev_date_histogram",
    "ev_geo_distance", "dd_exact", "dd_minhash_lsh", "ts_quality",
    "sim_cosine_topk",
}


def _plan_memo(name, fn):
    if name not in _PURE_PLAN_ENTRIES:
        return fn

    def wrapped(s, d):
        key = (name, s, os.path.abspath(d))
        if key not in _PLAN_CACHE:
            _PLAN_CACHE[key] = fn(s, d)
        return _PLAN_CACHE[key]

    return wrapped


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}

    # ---- full-text ----
    o["ft_match_or"] = _bm25_sql(sorted(set(analyze_text("spark merge stream"))), 10)
    o["ft_match_and"] = _bm25_sql(
        sorted(set(analyze_text("table scan"))), 20, require_all=True
    )
    o["ft_match_all_k"] = _bm25_sql(["value"], 15)

    o["ft_count"] = f"""{_bm25_cte()}
SELECT count(DISTINCT doc_id) AS cnt FROM contrib WHERE term IN ('merge', 'batch')
"""

    o["ft_wildcard_prefix"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
)
SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'qu%'
"""

    o["ft_wildcard_suffix"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
)
SELECT DISTINCT doc_id FROM toks WHERE term LIKE '%er'
"""

    o["ft_phrase"] = f"""{_bm25_cte()},
toks_pos AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term,
         generate_subscripts({_ANALYZE_TEXT_SQL}, 1) AS pos
  FROM documents
),
phrase_docs AS (
  SELECT DISTINCT a.doc_id
  FROM toks_pos a JOIN toks_pos b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'fast' AND b.term = 'table'
)
SELECT c.doc_id, round(sum(c.c), 4) AS score
FROM contrib c JOIN phrase_docs USING (doc_id)
WHERE c.term IN ('fast', 'table')
GROUP BY c.doc_id
ORDER BY round(sum(c.c), 4) DESC, c.doc_id ASC
LIMIT 20
"""

    o["ft_phrase_slop"] = f"""{_bm25_cte()},
toks_pos AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term,
         generate_subscripts({_ANALYZE_TEXT_SQL}, 1) AS pos
  FROM documents
),
phrase_docs AS (
  -- slop 1: |b.pos - (a.pos + 1)| <= 1, b may not reuse the start token
  SELECT DISTINCT a.doc_id
  FROM toks_pos a JOIN toks_pos b
    ON a.doc_id = b.doc_id
   AND b.pos BETWEEN a.pos AND a.pos + 2
   AND b.pos <> a.pos
  WHERE a.term = 'fast' AND b.term = 'table'
)
SELECT c.doc_id, round(sum(c.c), 4) AS score
FROM contrib c JOIN phrase_docs USING (doc_id)
WHERE c.term IN ('fast', 'table')
GROUP BY c.doc_id
ORDER BY round(sum(c.c), 4) DESC, c.doc_id ASC
LIMIT 30
"""

    o["ft_phrase_slop3"] = f"""{_bm25_cte()},
toks_pos AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term,
         generate_subscripts({_ANALYZE_TEXT_SQL}, 1) AS pos
  FROM documents
),
adj AS (
  -- adjusted position = raw - slot offset (Lucene sloppy-phrase space)
  SELECT doc_id, pos - 1 AS apos, 0 AS slot FROM toks_pos WHERE term = 'key'
  UNION ALL
  SELECT doc_id, pos - 2 AS apos, 1 AS slot FROM toks_pos WHERE term = 'agg'
  UNION ALL
  SELECT doc_id, pos - 3 AS apos, 2 AS slot FROM toks_pos WHERE term = 'row'
),
phrase_docs AS (
  -- spread semantics: EXISTS anchor w with every slot's adjusted
  -- positions intersecting [w, w+2]
  SELECT DISTINCT a.doc_id FROM adj a
  JOIN adj s0 ON s0.doc_id = a.doc_id AND s0.slot = 0
             AND s0.apos BETWEEN a.apos AND a.apos + 2
  JOIN adj s1 ON s1.doc_id = a.doc_id AND s1.slot = 1
             AND s1.apos BETWEEN a.apos AND a.apos + 2
  JOIN adj s2 ON s2.doc_id = a.doc_id AND s2.slot = 2
             AND s2.apos BETWEEN a.apos AND a.apos + 2
)
SELECT c.doc_id, round(sum(c.c), 4) AS score
FROM contrib c JOIN phrase_docs USING (doc_id)
WHERE c.term IN ('agg', 'key', 'row')
GROUP BY c.doc_id
ORDER BY round(sum(c.c), 4) DESC, c.doc_id ASC
LIMIT 30
"""

    # dis_max: per-term conditional sums (one posting row per
    # (doc, term), so each CASE-sum selects a single value — no float
    # fold ambiguity), then the engine's exact association:
    # s_i = ((0.0 + c_a) + c_b)..., score = best + tie*(total - best)
    o["ft_dis_max"] = f"""{_bm25_cte()},
g AS (
  SELECT doc_id,
         sum(CASE WHEN term = 'agg' THEN c END) AS c_agg,
         sum(CASE WHEN term = 'batch' THEN c END) AS c_batch,
         sum(CASE WHEN term = 'key' THEN c END) AS c_key,
         sum(CASE WHEN term = 'merge' THEN c END) AS c_merge,
         sum(CASE WHEN term = 'window' THEN c END) AS c_window
  FROM contrib
  WHERE term IN ('agg', 'batch', 'key', 'merge', 'window')
  GROUP BY doc_id
),
sc AS (
  SELECT doc_id,
         ((0.0::DOUBLE + coalesce(c_agg, 0.0::DOUBLE))
          + coalesce(c_key, 0.0::DOUBLE)) AS s0,
         (((0.0::DOUBLE + coalesce(c_batch, 0.0::DOUBLE))
           + coalesce(c_merge, 0.0::DOUBLE))
          + coalesce(c_window, 0.0::DOUBLE)) AS s1
  FROM g
)
SELECT doc_id,
       round(greatest(s0, s1)
             + 0.3::DOUBLE * ((s0 + s1) - greatest(s0, s1)), 4) AS score
FROM sc
ORDER BY round(greatest(s0, s1)
               + 0.3::DOUBLE * ((s0 + s1) - greatest(s0, s1)), 4) DESC,
         doc_id ASC
LIMIT 15
"""

    # match_phrase_prefix "fast s": successor position matched against
    # the <=50-in-term-order prefix expansion; BM25 over the fixed
    # terms only (the engine's pinned deterministic-scoring choice)
    o["ft_phrase_prefix"] = f"""{_bm25_cte()},
toks_pos AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term,
         generate_subscripts({_ANALYZE_TEXT_SQL}, 1) AS pos
  FROM documents
),
exp AS (
  SELECT DISTINCT term FROM toks_pos
  WHERE term LIKE 's%' ORDER BY term LIMIT 50
),
phrase_docs AS (
  SELECT DISTINCT a.doc_id
  FROM toks_pos a JOIN toks_pos b
    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'fast' AND b.term IN (SELECT term FROM exp)
)
SELECT c.doc_id, round(sum(c.c), 4) AS score
FROM contrib c JOIN phrase_docs USING (doc_id)
WHERE c.term = 'fast'
GROUP BY c.doc_id
ORDER BY round(sum(c.c), 4) DESC, c.doc_id ASC
LIMIT 20
"""

    # boosting: positive BM25, negative-matching docs scaled by 0.5
    # (one IEEE multiply — engine replays score * lit exactly)
    o["ft_boosting"] = f"""{_bm25_cte()},
s AS (
  SELECT doc_id, sum(c) AS score FROM contrib
  WHERE term IN ('batch', 'merge') GROUP BY doc_id
),
m AS (
  SELECT doc_id,
         CASE WHEN doc_id IN (SELECT DISTINCT doc_id FROM contrib
                              WHERE term = 'dup')
              THEN score * 0.5::DOUBLE ELSE score END AS score
  FROM s
)
SELECT doc_id, round(score, 4) AS score FROM m
ORDER BY round(score, 4) DESC, doc_id ASC
LIMIT 20
"""

    # constant_score: filter-context matching, fixed boost, id-ordered
    o["ft_const"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
)
SELECT DISTINCT doc_id, 1.5::DOUBLE AS score
FROM toks WHERE term IN ('dup', 'vector')
ORDER BY doc_id ASC
LIMIT 25
"""

    # bool.should minimum_should_match=2: >=2 distinct should terms
    o["ft_msm"] = f"""{_bm25_cte()}
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN ('dup', 'spark', 'window')
GROUP BY doc_id HAVING count(*) >= 2
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 25
"""

    # function_score gauss decay on n_chars (origin 300, scale 200,
    # decay 0.5): the 2*sigma^2 constant is the SAME Python float the
    # engine injects (query/compound.py:decay_multiplier), so both
    # engines evaluate exp(-(d*d)/LITERAL) over identical operands
    _decay_denom = repr(2.0 * (-(200.0 * 200.0) / (2.0 * math.log(0.5))))
    o["ft_decay"] = f"""{_bm25_cte()},
s AS (
  SELECT doc_id, sum(c) AS score FROM contrib
  WHERE term IN ('scan', 'table') GROUP BY doc_id
),
m AS (
  SELECT s.doc_id,
         s.score * exp(-(g.dist * g.dist) / {_decay_denom}::DOUBLE) AS score
  FROM s JOIN (
    SELECT doc_id,
           greatest(0.0::DOUBLE,
                    abs(n_chars::DOUBLE - 300.0::DOUBLE) - 0.0::DOUBLE) AS dist
    FROM documents) g ON s.doc_id = g.doc_id
)
SELECT doc_id, round(score, 4) AS score FROM m
ORDER BY round(score, 4) DESC, doc_id ASC
LIMIT 20
"""

    o["ft_bool_must_not"] = f"""{_bm25_cte()}
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib
WHERE term = 'merge'
  AND doc_id NOT IN (SELECT doc_id FROM contrib WHERE term = 'batch')
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 25
"""

    o["ft_source_filter"] = (
        "SELECT doc_id, lang, n_chars FROM documents "
        "WHERE lang = 'en' AND n_chars >= 200"
    )

    # ---- events ----
    T0, T1 = "2024-01-05 00:00:00", "2024-01-12 00:00:00"
    o["ev_range_scan"] = (
        f"SELECT event_id, event_type FROM events "
        f"WHERE ts >= TIMESTAMP '{T0}' AND ts < TIMESTAMP '{T1}'"
    )
    o["ev_count"] = (
        f"SELECT count(*) AS cnt FROM events WHERE ts >= TIMESTAMP '{T0}' "
        f"AND ts < TIMESTAMP '{T1}' AND event_type = 'click'"
    )
    o["ev_minmax"] = (
        "SELECT epoch_us(min(ts)) AS min_us, epoch_us(max(ts)) AS max_us FROM events"
    )
    o["ev_sort_limit"] = (
        "SELECT event_id, epoch_us(ts) AS ts_us FROM events "
        "ORDER BY ts ASC, event_id ASC LIMIT 50"
    )
    o["ev_id_prefix_counts"] = (
        "SELECT substr(md5(event_id::VARCHAR), 1, 1) AS key_prefix, "
        "count(*) AS count FROM events GROUP BY 1 ORDER BY 1"
    )
    o["ev_date_histogram"] = (
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
        "count(*) AS count FROM events GROUP BY 1"
    )
    o["ev_track_total"] = (
        "SELECT least(count(*), 1000) AS cnt FROM events WHERE event_type = 'view'"
    )
    o["ev_subslice_flag"] = (
        "SELECT event_type, count(*) AS count, count(*) > 2000 AS needs_subslice "
        "FROM events GROUP BY 1"
    )

    # ---- ES search-API aggregations (operators/aggs.py) ----
    # cardinality: the SAME HLL sketch re-derived in SQL — md5 hash,
    # 12-bit bucket / 52-bit rho, exact HUGEINT harmonic accumulator,
    # one double division, identical branch condition. C is the exact
    # python-float constant from hll_constants(12); repr round-trips
    # to the identical double in DuckDB.
    _hll_m, _, _hll_C = aggs.hll_constants(12)
    o["agg_cardinality"] = f"""
WITH h AS (SELECT md5(event_id::VARCHAR) AS hx FROM events),
r AS (SELECT ('0x' || substr(hx, 1, 3))::INT AS bucket,
             ('0x' || substr(hx, 4, 13))::BIGINT AS w FROM h),
regs AS (SELECT bucket,
                max(CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END) AS M
         FROM r GROUP BY bucket),
s AS (SELECT sum(((1::BIGINT) << (53 - M))::HUGEINT) AS snum,
             count(*) AS nz FROM regs),
e AS (SELECT nz,
             {_hll_C!r} / (snum::DOUBLE
                           + ({_hll_m} - nz)::DOUBLE * 9007199254740992.0)
               AS raw FROM s)
SELECT round(CASE WHEN {_hll_m} - nz > 0 AND raw <= {2.5 * _hll_m!r}
             THEN {float(_hll_m)!r} * ln({float(_hll_m)!r} / ({_hll_m} - nz)::DOUBLE)
             ELSE raw END, 4) AS cardinality_est,
       nz::INT AS filled_registers,
       CASE WHEN {_hll_m} - nz > 0 AND raw <= {2.5 * _hll_m!r}
            THEN 'linear' ELSE 'raw' END AS regime
FROM e
"""

    # percentiles: DuckDB quantile_cont == Spark exact percentile
    # (both type-7 interpolation, verified bit-identical)
    _pcts = "[0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]"
    o["agg_percentiles"] = f"""
WITH q AS (SELECT quantile_cont(n_chars, {_pcts}) AS qs FROM documents)
SELECT percent, round(v, 4) AS value
FROM (SELECT unnest({_pcts}) AS percent, unnest(qs) AS v FROM q)
"""

    # extended_stats: variance from exact integer sums, double ops in
    # the same order as the Spark expression
    o["agg_stats"] = """
WITH a AS (
  SELECT count(n_chars) AS cnt, min(n_chars) AS mn, max(n_chars) AS mx,
         sum(n_chars::HUGEINT) AS s,
         sum((n_chars::HUGEINT) * (n_chars::HUGEINT)) AS ss
  FROM documents)
SELECT cnt, mn::BIGINT AS min, mx::BIGINT AS max, s::BIGINT AS sum,
       round(s::DOUBLE / cnt::DOUBLE, 4) AS avg,
       round((ss::DOUBLE - s::DOUBLE * s::DOUBLE / cnt::DOUBLE)
             / cnt::DOUBLE, 4) AS var_pop,
       round((ss::DOUBLE - s::DOUBLE * s::DOUBLE / cnt::DOUBLE)
             / (cnt::DOUBLE - 1.0), 4) AS var_samp,
       round(sqrt((ss::DOUBLE - s::DOUBLE * s::DOUBLE / cnt::DOUBLE)
                  / cnt::DOUBLE), 4) AS std_pop
FROM a
"""

    o["agg_terms"] = """
WITH b AS (SELECT user_id AS key, count(*) AS doc_count
           FROM events GROUP BY user_id),
t AS (SELECT key, doc_count FROM b
      ORDER BY doc_count DESC, key ASC LIMIT 10)
SELECT key, doc_count,
       ((SELECT count(*) FROM events)
        - (SELECT sum(doc_count) FROM t))::BIGINT AS sum_other_doc_count
FROM t
"""

    o["agg_composite"] = """
SELECT event_type, user_id, count(*) AS doc_count
FROM events
WHERE event_type > 'error' OR (event_type = 'error' AND user_id > 75)
GROUP BY event_type, user_id
ORDER BY event_type ASC, user_id ASC
LIMIT 20
"""

    o["agg_histogram"] = """
SELECT floor(value / 25.0) * 25.0 AS key, count(*) AS doc_count
FROM events GROUP BY 1 ORDER BY key
"""

    o["agg_top_hits"] = """
SELECT event_type, event_id, value, hit_rank FROM (
  SELECT event_type, event_id, value,
         (row_number() OVER (PARTITION BY event_type
                             ORDER BY value DESC, event_id ASC))::INT AS hit_rank
  FROM events)
WHERE hit_rank <= 3
"""

    o["agg_pipeline"] = """
WITH b AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                  count(*) AS doc_count FROM events GROUP BY 1)
SELECT day, doc_count,
       (sum(doc_count) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         AS cumulative_sum,
       (doc_count - lag(doc_count, 1) OVER (ORDER BY day))::BIGINT
         AS derivative,
       round((sum(doc_count) OVER (ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))::DOUBLE
             / (count(doc_count) OVER (ORDER BY day
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))::DOUBLE, 4)
         AS moving_avg
FROM b
"""

    o["ft_collapse"] = f"""{_bm25_cte()},
scored AS (
  SELECT doc_id, round(sum(c), 4) AS score FROM contrib
  WHERE term IN ('merge', 'spark', 'stream') GROUP BY doc_id
),
best AS (
  SELECT d.lang, s.doc_id, s.score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY s.score DESC, s.doc_id ASC) AS rn
  FROM scored s JOIN documents d USING (doc_id)
)
SELECT lang, doc_id, score FROM best WHERE rn = 1
ORDER BY score DESC, doc_id ASC LIMIT 5
"""

    o["ev_search_after"] = """
SELECT event_id, value FROM events
WHERE value < 480.0 OR (value = 480.0 AND event_id > 0)
ORDER BY value DESC, event_id ASC LIMIT 50
"""

    o["ft_mlt"] = f"""{_bm25_cte()},
seed AS (SELECT term, tf FROM tf WHERE doc_id = 0),
it AS (
  SELECT seed.term,
         round(seed.tf * ln(1 + (stats.n - dfreq.df + 0.5)
                                / (dfreq.df + 0.5)), 4) AS w
  FROM seed JOIN dfreq USING (term) CROSS JOIN stats
  WHERE dfreq.df >= 2
  ORDER BY w DESC, seed.term ASC LIMIT 25
)
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib
WHERE term IN (SELECT term FROM it) AND doc_id != 0
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC LIMIT 10
"""

    o["ft_suggest"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
),
dfreq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS doc_freq
          FROM toks GROUP BY 1)
SELECT term, levenshtein(term, 'bat')::INT AS distance, doc_freq
FROM dfreq
WHERE term != 'bat'
  AND abs(length(term) - 3) <= 2
  AND levenshtein(term, 'bat') <= 2
ORDER BY distance ASC, doc_freq DESC, term ASC LIMIT 8
"""

    o["agg_range"] = """
WITH b AS (SELECT * FROM (VALUES
    ('low',  NULL::DOUBLE,    100.0::DOUBLE),
    ('mid',  50.0::DOUBLE,    200.0::DOUBLE),
    ('high', 200.0::DOUBLE,   NULL::DOUBLE),
    ('none', 10000.0::DOUBLE, NULL::DOUBLE)) t(key, lo, hi))
SELECT b.key, count(e.event_id)::BIGINT AS doc_count
FROM b LEFT JOIN events e
  ON e.value IS NOT NULL
 AND (b.lo IS NULL OR e.value >= b.lo)
 AND (b.hi IS NULL OR e.value < b.hi)
GROUP BY b.key ORDER BY b.key
"""

    o["agg_filters"] = """
WITH a AS (SELECT
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS errors,
    sum(CASE WHEN value >= 150.0 THEN 1 ELSE 0 END)::BIGINT AS big,
    sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END)::BIGINT AS never
  FROM events)
SELECT key, doc_count FROM (
  SELECT 'errors' AS key, errors AS doc_count FROM a
  UNION ALL SELECT 'big', big FROM a
  UNION ALL SELECT 'never', never FROM a)
ORDER BY key
"""

    o["agg_rare"] = """
SELECT user_id AS key, count(*) AS doc_count
FROM events GROUP BY 1 HAVING count(*) <= 55
ORDER BY doc_count ASC, key ASC
"""

    o["agg_significant"] = f"""
WITH toks AS (
  SELECT unnest(list_distinct({_ANALYZE_TEXT_SQL})) AS term,
         (lang = 'en') AS fg
  FROM documents
),
pt AS (
  SELECT term,
         sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count,
         count(*)::BIGINT AS bg_count
  FROM toks GROUP BY 1
),
sz AS (
  SELECT count(*)::DOUBLE AS superset,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::DOUBLE AS subset
  FROM documents
),
scored AS (
  SELECT term, fg_count, bg_count,
         round((fg_count::DOUBLE / subset - bg_count::DOUBLE / superset)
               * ((fg_count::DOUBLE / subset)
                  / (bg_count::DOUBLE / superset)), 4) AS score
  FROM pt CROSS JOIN sz
  WHERE fg_count >= 3
)
SELECT term, fg_count, bg_count, score
FROM scored WHERE score > 0
ORDER BY score DESC, term ASC
LIMIT 10
"""

    # percentile_ranks: exact CDF at each requested value, one scan of
    # conditional sums (engine: (le * 100.0) / n, left-assoc)
    o["agg_pranks"] = """
WITH a AS (
  SELECT count("value")::DOUBLE AS n,
         sum(CASE WHEN "value" <= 10.0::DOUBLE THEN 1 ELSE 0 END)::DOUBLE AS le0,
         sum(CASE WHEN "value" <= 50.0::DOUBLE THEN 1 ELSE 0 END)::DOUBLE AS le1,
         sum(CASE WHEN "value" <= 200.0::DOUBLE THEN 1 ELSE 0 END)::DOUBLE AS le2,
         sum(CASE WHEN "value" <= 900.0::DOUBLE THEN 1 ELSE 0 END)::DOUBLE AS le3
  FROM events
)
SELECT 10.0::DOUBLE AS value, round(le0 * 100.0::DOUBLE / n, 4) AS rank FROM a
UNION ALL
SELECT 50.0::DOUBLE, round(le1 * 100.0::DOUBLE / n, 4) FROM a
UNION ALL
SELECT 200.0::DOUBLE, round(le2 * 100.0::DOUBLE / n, 4) FROM a
UNION ALL
SELECT 900.0::DOUBLE, round(le3 * 100.0::DOUBLE / n, 4) FROM a
"""

    # weighted_avg: exact integral sums (engine: decimal(38,0); HUGEINT
    # here), one double division + round(4) at the surface
    o["agg_wavg"] = """
WITH a AS (
  SELECT sum((user_id::HUGEINT) * ((event_id % 7 + 1)::HUGEINT)) AS vw,
         sum((event_id % 7 + 1)::HUGEINT) AS w
  FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
)
SELECT round(vw::DOUBLE / w::DOUBLE, 4) AS weighted_avg,
       w::BIGINT AS weight_sum
FROM a
"""

    # adjacency_matrix: k + k(k-1)/2 conditional sums on one one-row
    # agg; empty buckets omitted; keys in ES's sorted "a&b" format
    o["agg_adjacency"] = """
WITH a AS (
  SELECT
    sum(CASE WHEN "value" >= 500.0::DOUBLE THEN 1 ELSE 0 END)::BIGINT AS big,
    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS err,
    sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)::BIGINT AS odd,
    sum(CASE WHEN "value" >= 500.0::DOUBLE AND event_type = 'error'
        THEN 1 ELSE 0 END)::BIGINT AS big_err,
    sum(CASE WHEN "value" >= 500.0::DOUBLE AND user_id % 2 = 1
        THEN 1 ELSE 0 END)::BIGINT AS big_odd,
    sum(CASE WHEN event_type = 'error' AND user_id % 2 = 1
        THEN 1 ELSE 0 END)::BIGINT AS err_odd
  FROM events
),
u AS (
  SELECT 'big' AS key, big AS doc_count FROM a
  UNION ALL SELECT 'err', err FROM a
  UNION ALL SELECT 'odd', odd FROM a
  UNION ALL SELECT 'big&err', big_err FROM a
  UNION ALL SELECT 'big&odd', big_odd FROM a
  UNION ALL SELECT 'err&odd', err_odd FROM a
)
SELECT key, doc_count FROM u WHERE doc_count > 0 ORDER BY key
"""

    # matrix_stats: exact HUGEINT sums (engine: decimal(38,0)) feeding
    # the pinned sample-covariance expression; 6 unordered pairs
    _ms_cov = (
        "(({p}::DOUBLE) - (({sa}::DOUBLE) * ({sb}::DOUBLE)) / n) / (n - 1.0)"
    )

    def _ms_row(a, b, sa, sb, p, pa, pb):
        cov = _ms_cov.format(p=p, sa=sa, sb=sb)
        if a == b:
            corr = "1.0::DOUBLE"
        else:
            va = _ms_cov.format(p=pa, sa=sa, sb=sa)
            vb = _ms_cov.format(p=pb, sa=sb, sb=sb)
            corr = f"({cov}) / sqrt(({va}) * ({vb}))"
        return (
            f"SELECT '{a}' AS field_x, '{b}' AS field_y, cnt AS count, "
            f"round(({sa}::DOUBLE) / n, 4) AS mean_x, "
            f"round(({sb}::DOUBLE) / n, 4) AS mean_y, "
            f"round({cov}, 4) AS cov, round({corr}, 4) AS corr FROM a"
        )

    _ms_pairs = [
        ("user_id", "user_id", "sx", "sx", "pxx", "pxx", "pxx"),
        ("user_id", "e97", "sx", "sy", "pxy", "pxx", "pyy"),
        ("user_id", "e7", "sx", "sz", "pxz", "pxx", "pzz"),
        ("e97", "e97", "sy", "sy", "pyy", "pyy", "pyy"),
        ("e97", "e7", "sy", "sz", "pyz", "pyy", "pzz"),
        ("e7", "e7", "sz", "sz", "pzz", "pzz", "pzz"),
    ]
    o["agg_matrix"] = """
WITH b AS (
  SELECT user_id AS x, event_id % 97 AS y, event_id % 7 AS z FROM events
  WHERE user_id IS NOT NULL AND event_id IS NOT NULL
),
a AS (
  SELECT count(*)::DOUBLE AS n, count(*)::BIGINT AS cnt,
         sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy, sum(z::HUGEINT) AS sz,
         sum(x::HUGEINT * x::HUGEINT) AS pxx,
         sum(x::HUGEINT * y::HUGEINT) AS pxy,
         sum(x::HUGEINT * z::HUGEINT) AS pxz,
         sum(y::HUGEINT * y::HUGEINT) AS pyy,
         sum(y::HUGEINT * z::HUGEINT) AS pyz,
         sum(z::HUGEINT * z::HUGEINT) AS pzz
  FROM b
)
""" + "\nUNION ALL\n".join(_ms_row(*t) for t in _ms_pairs)

    # auto_date_histogram: interval 86400000 (1 day) is the ladder pick
    # RECORDED for the sf0.01 events span (30 days / buckets=30);
    # regenerate if testdata changes. Keys = UTC-aligned interval
    # multiples (epoch-us floor), identical integer math both engines.
    o["agg_autodh"] = """
SELECT ((epoch_us(ts) - ((epoch_us(ts) % 86400000000)
                         + 86400000000) % 86400000000) // 1000)::BIGINT AS key_ms,
       count(*)::BIGINT AS doc_count,
       86400000::BIGINT AS interval_ms
FROM events WHERE ts IS NOT NULL
GROUP BY 1
"""

    # bucket pipeline: terms buckets -> computed ratio (round 4) ->
    # selector (>= 2000 docs at sf0.01) -> sort by rounded ratio
    o["agg_bucketpipe"] = """
WITH b AS (
  SELECT event_type AS key, count(*)::BIGINT AS doc_count,
         sum(user_id::HUGEINT)::BIGINT AS sum_uid
  FROM events GROUP BY 1
),
c AS (
  SELECT key, doc_count, sum_uid,
         round(sum_uid::DOUBLE / doc_count::DOUBLE, 4) AS avg_uid
  FROM b WHERE doc_count >= 2000
)
SELECT key, doc_count, sum_uid, avg_uid FROM c
ORDER BY avg_uid DESC, key ASC
LIMIT 3
"""

    # unigram LM: exact-count add-0.5 LM retrained in SQL; per-doc
    # NLL sum mirrors the engine's fold (round-4 reconciles, the
    # proven BM25 protocol); OOV-free because the LM is self-trained
    o["ts_unigram"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
),
cnt AS (SELECT term, count(*)::BIGINT AS c FROM toks GROUP BY 1),
tot AS (SELECT sum(c)::DOUBLE AS total, count(*)::DOUBLE AS vocab FROM cnt),
lm AS (
  SELECT term,
         ln((c::DOUBLE + 0.5::DOUBLE)
            / (total + 0.5::DOUBLE * (vocab + 1.0::DOUBLE))) AS logp
  FROM cnt CROSS JOIN tot
),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
per AS (
  SELECT tf.doc_id, sum(tf.tf)::BIGINT AS n_tok,
         sum(tf.tf::DOUBLE * -lm.logp) AS nll
  FROM tf JOIN lm USING (term) GROUP BY 1
)
SELECT doc_id, n_tok, round(nll / n_tok::DOUBLE, 4) AS nll_per_tok FROM per
"""

    # stratified_sample: per-stratum md5 thresholds (hash_bucket
    # protocol); unknown strata at the 0.05 default
    o["ts_strat"] = """
SELECT doc_id, lang FROM documents
WHERE ('0x' || substr(md5('strat:' || doc_id::VARCHAR), 1, 13))::BIGINT
        % 1000000
      < CASE WHEN lang = 'de' THEN 1000000
             WHEN lang = 'en' THEN 300000
             ELSE 50000 END
"""

    # chunk_tokens: ceil(n/32) windows per non-empty doc; boundary
    # tokens via 1-based list indexing (engine: element_at)
    o["llm_chunks"] = f"""
WITH toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS t FROM documents
),
nn AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
ch AS (
  SELECT doc_id, t, n,
         unnest(range(((n - 1) // 32) + 1)) AS chunk_id
  FROM nn
)
SELECT doc_id,
       chunk_id::BIGINT AS chunk_id,
       least(32, n - chunk_id * 32)::BIGINT AS n_tok,
       t[(chunk_id * 32 + 1)::INT] AS first_tok,
       t[(chunk_id * 32 + least(32, n - chunk_id * 32))::INT] AS last_tok
FROM ch
"""

    # pack_bins: md5 bucket streams (sampling.hash_bucket protocol),
    # per-stream (ord, doc_id) cumulative token sum BEFORE each doc,
    # bin = floor(cum/512) (512 = 2^9, so the double division is exact)
    o["llm_pack"] = f"""
WITH t AS (
  SELECT doc_id,
         coalesce(len({_ANALYZE_TEXT_SQL}), 0) AS n_tok,
         (('0x' || substr(md5('pack:' || doc_id::VARCHAR), 1, 13))::BIGINT
           % 1000000) % 8 AS bucket,
         ('0x' || substr(md5('pack:order:' || doc_id::VARCHAR), 1, 13))::BIGINT
           % 1000000 AS ord
  FROM documents
)
SELECT doc_id,
       bucket::BIGINT AS bucket,
       floor(coalesce(sum(n_tok) OVER (
               PARTITION BY bucket ORDER BY ord ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 512)::BIGINT AS bin,
       n_tok::BIGINT AS n_tok
FROM t
"""

    # geotile: identical IEEE op sequence (double-pinned lat/lon,
    # asinh spelled ln(t + sqrt(t*t+1)), integer clamp at the poles)
    o["agg_geotile"] = f"""
WITH g AS (
  SELECT ({_LAT_D})::DOUBLE AS lat, ({_LON_D})::DOUBLE AS lon FROM events
),
xy AS (
  SELECT least(greatest(floor((lon + 180.0) / 360.0 * 16.0), 0), 15)::BIGINT AS x,
         least(greatest(
           floor((1.0 - ln(tan(radians(least(greatest(lat, -85.05112878),
                                             85.05112878)))
                           + sqrt(tan(radians(least(greatest(lat, -85.05112878),
                                                    85.05112878)))
                                  * tan(radians(least(greatest(lat, -85.05112878),
                                                      85.05112878)))
                                  + 1.0)) / pi()) / 2.0 * 16.0),
           0), 15)::BIGINT AS y
  FROM g
)
SELECT concat_ws('/', '4', x::VARCHAR, y::VARCHAR) AS key,
       count(*) AS doc_count
FROM xy GROUP BY 1
ORDER BY doc_count DESC, key ASC
LIMIT 15
"""
    o["ev_geo_box"] = f"""
SELECT event_id, round(({_LAT})::DOUBLE, 4) AS lat, round(({_LON})::DOUBLE, 4) AS lon
FROM events
WHERE {_LAT} BETWEEN -45.0 AND 45.0 AND {_LON} BETWEEN -90.0 AND 90.0
"""
    o["ev_geo_distance"] = f"""
WITH g AS (
  SELECT event_id, ({_LAT})::DOUBLE AS lat, ({_LON})::DOUBLE AS lon FROM events
),
d AS (
  SELECT event_id,
         2.0 * 6371000.0 * asin(sqrt(
           sin(radians(lat - 40.0) / 2) * sin(radians(lat - 40.0) / 2)
           + cos(radians(40.0)) * cos(radians(lat))
           * sin(radians(lon - (-60.0)) / 2) * sin(radians(lon - (-60.0)) / 2)
         )) AS dist_m
  FROM g
)
SELECT event_id, round(dist_m / 1000.0, 3) AS dist_km FROM d
WHERE dist_m <= 3000.0 * 1000.0
"""
    o["ev_geo_sorted"] = f"""
WITH g AS (
  SELECT event_id, ({_LAT})::DOUBLE AS lat, ({_LON})::DOUBLE AS lon FROM events
),
d AS (
  SELECT event_id,
         2.0 * 6371000.0 * asin(sqrt(
           sin(radians(lat - 40.0) / 2) * sin(radians(lat - 40.0) / 2)
           + cos(radians(40.0)) * cos(radians(lat))
           * sin(radians(lon - (-60.0)) / 2) * sin(radians(lon - (-60.0)) / 2)
         )) AS dist_m
  FROM g
)
SELECT event_id, round(dist_m / 1000.0, 3) AS dist_km,
       row_number() OVER (
         ORDER BY round(dist_m / 1000.0, 3) ASC, event_id ASC
       ) AS rank
FROM d WHERE dist_m <= 1500.0 * 1000.0
QUALIFY rank <= 100
"""

    o["ev_delayed_window"] = """
WITH mx AS (SELECT max(ts) AS m FROM events)
SELECT event_id, event_type FROM events, mx
WHERE ts >= m - INTERVAL 6 HOUR - INTERVAL 1 DAY
  AND ts < m - INTERVAL 6 HOUR
"""
    o["ev_json_extract"] = (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
        "FROM events"
    )
    o["ev_slice_query"] = """
SELECT event_id FROM events
WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
  AND substr(md5(event_id::VARCHAR), 1, 1) IN ('a', 'b', 'c')
  AND event_type = 'click' AND value >= 10
"""

    # ---- writer merges ----
    _target = "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0"
    _source = (
        "SELECT doc_id, 'UPDATED:' || doc_id::VARCHAR AS text "
        "FROM documents WHERE doc_id % 2 = 0"
    )
    o["wr_index"] = f"""
WITH t AS ({_target}), s AS ({_source})
SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM s)
UNION ALL SELECT * FROM s
"""
    o["wr_create"] = f"""
WITH t AS ({_target}), s AS ({_source})
SELECT * FROM t
UNION ALL SELECT * FROM s WHERE doc_id NOT IN (SELECT doc_id FROM t)
"""
    o["wr_update"] = f"""
WITH t AS ({_target}), s AS ({_source})
SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM s)
UNION ALL SELECT s.* FROM s JOIN t USING (doc_id)
"""
    o["wr_delete"] = f"""
WITH t AS ({_target}), s AS ({_source})
SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM s)
"""
    o["wr_script"] = f"""
WITH t AS ({_target}),
s AS (SELECT doc_id, doc_id::VARCHAR AS tag FROM documents WHERE doc_id % 2 = 0)
SELECT t.doc_id,
       CASE WHEN s.doc_id IS NOT NULL THEN t.text || '#' || s.tag
            ELSE t.text END AS text
FROM t LEFT JOIN s ON t.doc_id = s.doc_id
"""

    # stateful sessionization: gaps-and-islands (3-day gap), dropping
    # each user's LAST island (it stays open in streaming state — only
    # the processing-time timeout would flush it)
    o["stream_sessions"] = """
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 259200000000::BIGINT
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
isl AS (
  SELECT user_id, ts,
         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM gaps
),
sess AS (
  SELECT user_id, sid,
         epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
         count(*) AS n_events
  FROM isl GROUP BY 1, 2
)
SELECT user_id, start_us, end_us, n_events
FROM sess
QUALIFY sid < max(sid) OVER (PARTITION BY user_id)
"""

    o["wr_update_fields"] = """
WITH t AS (SELECT doc_id, text, lang FROM documents WHERE doc_id % 3 = 0),
s AS (SELECT doc_id FROM documents WHERE doc_id % 2 = 0)
SELECT t.doc_id, t.text,
       CASE WHEN s.doc_id IS NOT NULL THEN 'xx' ELSE t.lang END AS lang
FROM t LEFT JOIN s ON t.doc_id = s.doc_id
"""

    o["wr_lww"] = """
WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
s AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN 'V2:' || doc_id::VARCHAR
              ELSE 'V1:' || doc_id::VARCHAR END AS text
  FROM documents WHERE doc_id % 2 = 0
)
SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM s)
UNION ALL SELECT * FROM s
"""

    o["wr_routed"] = (
        "SELECT lang, count(*) AS count FROM documents GROUP BY 1"
    )

    o["wr_reject"] = """
SELECT doc_id,
       COALESCE(
         CASE WHEN length(text) > 450 THEN 'oversize doc'
              WHEN lang NOT IN ('en', 'es', 'de', 'fr')
              THEN 'unsupported lang' END,
         '__accepted__') AS reason
FROM documents
"""

    # S4 state storage roundtrip: three last-write-wins mset batches
    # (the middle one compacts the LSM), then mget on doc_id % 5 = 0
    o["ss_roundtrip"] = """
WITH st AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'V3:' || doc_id::VARCHAR
              WHEN doc_id % 2 = 0 THEN 'V2:' || doc_id::VARCHAR
              ELSE text END AS text
  FROM documents
  WHERE doc_id % 3 = 0 OR doc_id % 2 = 0 OR doc_id % 7 = 0
)
SELECT doc_id, text FROM st WHERE doc_id % 5 = 0
"""

    # ---- dedup / textstats / similarity ----
    o["dd_exact"] = """
SELECT min(doc_id) AS doc_id, md5(text) AS text_md5, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""

    o["dd_jaccard"] = f"""
WITH toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS arr FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(arr) - 1),
           i -> array_to_string(arr[i : i + 2], ' ')
         ))) AS shingle
  FROM toks
  WHERE len(arr) >= 3
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i) >= 0.2
"""

    # mirror of dedup.minhash_signatures' slice scheme: 32-bit hex
    # slices of 2 md5 digests (k/4 md5 calls per shingle, not k)
    _mh_cols = ",\n  ".join(
        f"min(substr(md5(shingle || ':{i // 4}'), {(i % 4) * 8 + 1}, 8)) "
        f"AS mh_{i}"
        for i in range(8)
    )
    _band_exprs = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, mh_{2*b} || '|' || mh_{2*b+1} AS band_sig FROM sig"
        for b in range(4)
    )
    _mh_ctes = f"""toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS arr FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(arr) - 1),
           i -> array_to_string(arr[i : i + 2], ' ')
         ))) AS shingle
  FROM toks
  WHERE len(arr) >= 3
),
sig AS (
  SELECT doc_id, {_mh_cols} FROM sh GROUP BY doc_id
),
bands0 AS ({_band_exprs}),
bands AS (
  -- mirror the engine's max_bucket=1000 hot-bucket drop
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= 1000
)"""
    _mh_pairs_select = """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id"""
    o["dd_minhash_lsh"] = f"""
WITH {_mh_ctes}
{_mh_pairs_select}
"""

    # line-level dedup over the 2-word-chunk reshaping of documents.text
    # (the chunking is mirrored verbatim from the entry's column ops)
    o["dd_line_dedup"] = """
WITH ml AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             range(0, CAST(ceil(len(string_split(coalesce(text, ''), ' ')) / 2.0) AS BIGINT)),
             i -> array_to_string(
               list_slice(string_split(coalesce(text, ''), ' '), i * 2 + 1, i * 2 + 2), ' ')
           ),
           chr(10)) AS text_ml
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text_ml, chr(10))) AS line,
         unnest(range(1, len(string_split(text_ml, chr(10))) + 1)) AS pos
  FROM ml
),
normed AS (SELECT doc_id, pos, line, trim(line) AS norm FROM lines),
boiler AS (
  SELECT norm FROM normed WHERE norm <> ''
  GROUP BY norm HAVING count(DISTINCT doc_id) >= 10
),
kept AS (
  SELECT doc_id, pos, line FROM normed
  WHERE norm NOT IN (SELECT norm FROM boiler)
),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT m.doc_id,
       coalesce(r.text_dedup, '') AS text_dedup,
       CAST(len(string_split(m.text_ml, chr(10))) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed
FROM ml m LEFT JOIN reb r USING (doc_id)
"""

    # duplicate-cluster resolution: min-reachable-id per component over
    # the SAME pair graph, as a DuckDB recursive CTE (transitive
    # min-label closure == the engine's propagation fixpoint)
    o["dd_dup_clusters"] = f"""
WITH RECURSIVE {_mh_ctes},
pairs AS ({_mh_pairs_select}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
"""

    o["dd_dup_clusters_star"] = o["dd_dup_clusters"]

    o["dd_dedup_apply"] = f"""
WITH RECURSIVE {_mh_ctes},
pairs AS ({_mh_pairs_select}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.node
),
clusters AS (SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT node FROM clusters WHERE node <> cluster_id)
"""

    _bit_sums = ",\n  ".join(
        "sum(CASE WHEN substr(h, {p}, 1) IN ('8','9','a','b','c','d','e','f') "
        "THEN tf ELSE -tf END) AS s_{b}".format(p=b + 1, b=b)
        for b in range(16)
    )
    _bit_concat = " || ".join(
        f"CASE WHEN s_{b} > 0 THEN '1' ELSE '0' END" for b in range(16)
    )
    o["dd_simhash"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, md5(tok) AS h FROM tf),
sums AS (SELECT doc_id, {_bit_sums} FROM h GROUP BY doc_id)
SELECT doc_id, {_bit_concat} AS simhash FROM sums
"""

    # text coalesced to '' in BOTH engines (NULL rows: 0/1/0, not -1/NULL)
    _coalesced_analyze = duckdb_analyze_sql("coalesce(text, '')")
    o["ts_token_count"] = f"""
SELECT doc_id,
       len({_coalesced_analyze}) AS n_tokens,
       len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) AS n_words,
       len(regexp_extract_all(coalesce(text, ''),
           '''(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+'
       )) AS n_bpe
FROM documents
"""

    # ---- corpus hygiene + splitting: identical injected text, regexes
    # inserted from scrub.PII_PATTERNS/URL_REGEX verbatim (Java regex
    # and RE2 agree on this construct subset by design) ----
    _E = scrub.PII_PATTERNS
    o["ts_pii"] = f"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' ip 10.0.' || (doc_id % 200)::VARCHAR || '.7' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ssn 123-45-6789' ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' call +14155550100' ELSE '' END AS t
  FROM documents
),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{_E["email"]}'))::BIGINT AS n_email,
         len(regexp_extract_all(t, '{_E["ipv4"]}'))::BIGINT AS n_ipv4,
         len(regexp_extract_all(t, '{_E["ssn"]}'))::BIGINT AS n_ssn,
         len(regexp_extract_all(t, '{_E["phone"]}'))::BIGINT AS n_phone,
         md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
             '{_E["email"]}', '<EMAIL>', 'g'),
             '{_E["ipv4"]}', '<IPV4>', 'g'),
             '{_E["ssn"]}', '<SSN>', 'g'),
             '{_E["phone"]}', '<PHONE>', 'g')) AS redacted_md5
  FROM aug
)
SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
       (n_email + n_ipv4 + n_ssn + n_phone) AS n_pii, redacted_md5
FROM c WHERE n_email + n_ipv4 + n_ssn + n_phone > 0
"""

    _URL_SQL = scrub.URL_REGEX.replace("'", "''")
    _SCH = scrub._SCHEME_RE
    o["ts_urls"] = f"""
WITH aug AS (
  SELECT doc_id,
         coalesce(text, '')
         || CASE WHEN doc_id % 5 = 0 THEN ' see HTTPS://Example' || (doc_id % 3)::VARCHAR || '.COM:443/p/' || doc_id::VARCHAR || '?q=1#frag' ELSE '' END
         || CASE WHEN doc_id % 9 = 0 THEN ' and http://u@Mirror.example.ORG:80' ELSE '' END AS t
  FROM documents
),
u AS (SELECT doc_id, unnest(regexp_extract_all(t, '{_URL_SQL}')) AS url FROM aug),
p1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS u0 FROM u),
p2 AS (
  SELECT doc_id, url, u0,
         lower(regexp_extract(u0, '{_SCH}', 1)) AS scheme,
         regexp_replace(u0, '{_SCH}', '') AS rest
  FROM p1
),
p3 AS (
  SELECT doc_id, url, scheme,
         lower(regexp_extract(rest, '^([^/?]+)', 1)) AS auth,
         regexp_replace(rest, '^[^/?]+', '') AS tail
  FROM p2
),
p4 AS (
  SELECT doc_id, url, scheme, tail,
         CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
              WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
              ELSE auth END AS auth
  FROM p3
),
h AS (
  SELECT doc_id, url, scheme, tail, auth,
         regexp_replace(
           regexp_replace(
             lower(regexp_extract(regexp_replace(url, '{_SCH}', ''),
                                  '^([^/?#]+)', 1)),
             '^[^@]*@', ''),
           ':[0-9]+$', '') AS host
  FROM p4
)
SELECT doc_id, url,
       scheme || '://' || auth
         || CASE WHEN tail = '' THEN '/' ELSE tail END AS url_norm,
       host,
       CASE WHEN len(string_split(host, '.')) >= 2
            THEN array_to_string(
                   list_slice(string_split(host, '.'),
                              len(string_split(host, '.')) - 1,
                              len(string_split(host, '.'))), '.')
            ELSE host END AS reg_domain
FROM h
"""

    o["ts_split"] = """
WITH b AS (
  SELECT ('0x' || substr(md5('split:' || doc_id::VARCHAR), 1, 13))::BIGINT
           % 1000000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 800000 THEN 'train'
            WHEN bucket < 900000 THEN 'val'
            ELSE 'test' END AS split,
       count(*) AS doc_count
FROM b GROUP BY 1
"""

    o["dd_decontam"] = f"""
WITH toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS arr FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(arr) - 1),
           i -> array_to_string(arr[i : i + 2], ' ')
         ))) AS shingle
  FROM toks
  WHERE len(arr) >= 3
),
hits AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle IN ('slow hash batch', 'row column sort',
                    'window fast query', 'no such gram xyz')
)
SELECT doc_id, count(*) AS n_contaminated,
       array_to_string(list_sort(list(shingle)), ',') AS matched
FROM hits GROUP BY doc_id
"""

    _stop_list = ", ".join(f"'{s}'" for s in textstats.STOPWORDS)
    o["ts_quality"] = f"""
WITH base AS (
  SELECT doc_id, text,
         {_ANALYZE_TEXT_SQL} AS toks,
         regexp_split_to_array(trim(text), '\\s+') AS words,
         length(text) AS len_chars,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha
  FROM documents
),
feat AS (
  SELECT doc_id, len_chars,
         len(words) AS n_words,
         len(list_filter(toks, t -> t IN ({_stop_list})))::DOUBLE
           / greatest(len(toks), 1) AS stop_ratio,
         n_alpha::DOUBLE / greatest(len_chars, 1) AS alpha_ratio,
         len(toks) AS n_toks
  FROM base
)
SELECT doc_id, len_chars, n_words,
       round(stop_ratio, 4) AS stop_ratio,
       round(alpha_ratio, 4) AS alpha_ratio,
       round(least(stop_ratio * 2.0, 1.0) * 0.4 + alpha_ratio * 0.4
             + CASE WHEN n_words BETWEEN 10 AND 100000 THEN 0.2 ELSE 0.0 END,
             4) AS quality
FROM feat
"""

    # Gopher repetition rules (r6): per-doc dup/top n-gram fractions.
    # Mirror of textstats.repetition's zero-shuffle fold: DuckDB takes
    # the explode+groupBy road to the same exact ratios (int-valued
    # doubles, bit-identical division).
    def _rep_ctes(n: int) -> str:
        return f"""
g{n} AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, len(arr) - {n} + 2),
           i -> array_to_string(arr[i : i + {n - 1}], ' ')
         )) AS g
  FROM toks WHERE len(arr) >= {n}
),
c{n} AS (SELECT doc_id, g, count(*) AS c FROM g{n} GROUP BY 1, 2),
r{n} AS (
  SELECT doc_id,
         round(1 - count(*)::DOUBLE / sum(c), 4) AS dup_{n}gram_frac,
         round(max(c)::DOUBLE / sum(c), 4) AS top_{n}gram_frac
  FROM c{n} GROUP BY doc_id
)"""

    o["ts_repetition"] = f"""
WITH toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS arr FROM documents
),{_rep_ctes(2)},{_rep_ctes(3)}
SELECT t.doc_id,
       coalesce(dup_2gram_frac, 0.0) AS dup_2gram_frac,
       coalesce(top_2gram_frac, 0.0) AS top_2gram_frac,
       coalesce(dup_3gram_frac, 0.0) AS dup_3gram_frac,
       coalesce(top_3gram_frac, 0.0) AS top_3gram_frac
FROM toks t
LEFT JOIN r2 USING (doc_id)
LEFT JOIN r3 USING (doc_id)
"""

    _marker_counts = ",\n  ".join(
        "len(list_filter(toks, t -> t IN ({m}))) AS hits_{lang}".format(
            m=", ".join(f"'{w}'" for w in textstats.LANG_MARKERS[lang]), lang=lang
        )
        for lang in sorted(textstats.LANG_MARKERS)
    )
    _langs_sorted = sorted(textstats.LANG_MARKERS)
    _mx = "greatest(" + ", ".join(f"hits_{l}" for l in _langs_sorted) + ")"
    _argmax = "CASE " + " ".join(
        f"WHEN hits_{l} = {_mx} THEN '{l}'" for l in _langs_sorted
    ) + " END"
    o["ts_lang_id"] = f"""
WITH base AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS toks FROM documents
),
hits AS (
  SELECT doc_id, {_marker_counts} FROM base
)
SELECT doc_id,
       CASE WHEN {_mx} > 0 THEN {_argmax} ELSE 'und' END AS lang_pred,
       {_mx} AS marker_hits
FROM hits
"""

    o["ts_fingerprint"] = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_ANALYZE_TEXT_SQL})), ' ')) AS fp
FROM documents
"""

    o["sim_cosine_topk"] = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
dots AS (
  SELECT e.vec_id,
         list_sum(list_transform(list_zip(e.embedding, q.qv),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(e.embedding, v -> v::DOUBLE * v::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, v -> v::DOUBLE * v::DOUBLE))) AS nb
  FROM embeddings e, q
  WHERE e.vec_id != 0
)
SELECT vec_id, round(dot / (na * nb), 4) AS cosine
FROM dots
ORDER BY round(dot / (na * nb), 4) DESC, vec_id ASC
LIMIT 10
"""

    # same sign-bucket predicate as similarity.sign_bucket(dims=0..7),
    # with the engine's max_bucket=10000 hot-bucket drop mirrored
    _sbk8 = " || ".join(
        f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END"
        for i in range(1, 9)
    )
    o["sim_near_dup"] = f"""
WITH bk AS (
  SELECT vec_id, embedding, ({_sbk8}) AS b FROM embeddings
),
capped AS (
  SELECT * FROM bk QUALIFY count(*) OVER (PARTITION BY b) <= 10000
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE))) AS nb
  FROM capped a JOIN capped b
    ON a.vec_id < b.vec_id AND a.b = b.b
)
SELECT id_a, id_b, round(dot / (na * nb), 4) AS cosine
FROM pairs WHERE dot / (na * nb) >= 0.35
"""

    # banded variant: OR of two 8-bit sign bands (dims 1-8 and 9-16),
    # per-(band,bucket) cap, distinct candidate pairs, exact cosine
    _sbk_hi = " || ".join(
        f"CASE WHEN embedding[{i}] >= 0 THEN '1' ELSE '0' END"
        for i in range(9, 17)
    )
    o["sim_near_dup_banded"] = f"""
WITH bands0 AS (
  SELECT vec_id, embedding, 0 AS band, ({_sbk8}) AS bk FROM embeddings
  UNION ALL
  SELECT vec_id, embedding, 1 AS band, ({_sbk_hi}) AS bk FROM embeddings
),
bands AS (
  SELECT * FROM bands0 QUALIFY count(*) OVER (PARTITION BY band, bk) <= 10000
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         a.embedding AS ea, b.embedding AS eb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b,
         list_sum(list_transform(list_zip(ea, eb),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(ea, v -> v::DOUBLE * v::DOUBLE)))
          * sqrt(list_sum(list_transform(eb, v -> v::DOUBLE * v::DOUBLE)))) AS c
  FROM cand
)
SELECT id_a, id_b, round(c, 4) AS cosine FROM scored WHERE c >= 0.35
"""

    o["sp_filter"] = (
        "SELECT event_id FROM events WHERE event_type = 'click' AND value >= 10"
    )

    o["sp_filter_vars"] = (
        "SELECT event_id FROM events WHERE event_type IN ('click', 'view') "
        "AND value >= 10 AND value < 60"
    )

    o["ft_querystring"] = f"""{_bm25_cte()},
bm AS (
  SELECT doc_id, sum(c) AS s, count(*) AS n
  FROM contrib WHERE term IN ('batch', 'merge') GROUP BY doc_id
),
leftq AS (SELECT doc_id, s FROM bm WHERE n = 2),
rightq AS (SELECT doc_id, 1.0 AS s FROM documents WHERE lang = 'de')
SELECT doc_id, round(sum(s), 4) AS score
FROM (SELECT * FROM leftq UNION ALL SELECT * FROM rightq)
GROUP BY doc_id
"""

    o["ft_regexp"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS term FROM documents
)
SELECT DISTINCT doc_id FROM toks WHERE regexp_matches(term, '^qu.*y$')
"""

    # fuzzy = BM25 OR over dictionary terms within levenshtein 1 of
    # 'merg' (length window mirrors the engine's pushed prefilter)
    o["ft_fuzzy"] = f"""{_bm25_cte()},
exp AS (
  SELECT term FROM dfreq
  WHERE length(term) BETWEEN 3 AND 5 AND levenshtein(term, 'merg') <= 1
)
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN (SELECT term FROM exp)
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 15
"""

    # same oracle as ft_fuzzy: the persisted variant-bucketed dictionary
    # must produce the identical expansion set
    o["ft_fuzzy_disk"] = o["ft_fuzzy"]

    # boost: merge clause × 2 + batch clause (≤2 values per doc, so the
    # float sum is order-independent — IEEE addition is commutative)
    o["ft_boost"] = f"""{_bm25_cte()},
m AS (SELECT doc_id, 2 * sum(c) AS s FROM contrib WHERE term = 'merge' GROUP BY doc_id),
b AS (SELECT doc_id, sum(c) AS s FROM contrib WHERE term = 'batch' GROUP BY doc_id)
SELECT doc_id, round(sum(s), 4) AS score
FROM (SELECT * FROM m UNION ALL SELECT * FROM b)
GROUP BY doc_id
"""

    # +batch merge -stream: required gates, optional adds score,
    # prohibited excludes (≤2 values per doc — order-independent sum)
    o["ft_qs_required"] = f"""{_bm25_cte()},
m AS (SELECT doc_id, sum(c) AS s FROM contrib WHERE term = 'batch' GROUP BY doc_id),
sh AS (SELECT doc_id, sum(c) AS s FROM contrib WHERE term = 'merge' GROUP BY doc_id),
ex AS (SELECT DISTINCT doc_id FROM contrib WHERE term = 'stream')
SELECT m.doc_id, round(m.s + coalesce(sh.s, 0), 4) AS score
FROM m LEFT JOIN sh USING (doc_id)
WHERE m.doc_id NOT IN (SELECT doc_id FROM ex)
"""

    o["wr_dual_yield"] = """
WITH t AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
moved AS (
  SELECT doc_id + 100000 AS doc_id, 'MOVED' AS text, doc_id AS old_id
  FROM documents WHERE doc_id % 5 = 0
),
merged AS (
  SELECT * FROM t WHERE doc_id NOT IN (SELECT doc_id FROM moved)
  UNION ALL SELECT doc_id, text FROM moved
)
SELECT * FROM merged WHERE doc_id NOT IN (SELECT old_id FROM moved)
"""

    # identical oracle to ft_match_or: the packed path must be
    # rank-AND-score identical to the row-postings path
    # streamed+compacted segments serve the exact batch-build scores
    o["ft_match_streamed"] = _bm25_sql(
        sorted(set(analyze_text("spark merge stream"))), 10
    )

    o["ft_match_packed"] = _bm25_sql(
        sorted(set(analyze_text("spark merge stream"))), 10
    )

    # tombstone lifecycle (r6). Deleted-not-purged = Lucene liveDocs
    # semantics: BM25 stats (df, n_docs, avgdl) still derive from the
    # FULL corpus (the default _bm25_cte), only the RESULTS exclude the
    # dead docs. Purged = the merge applied the tombstones: every stat
    # re-derives over the surviving corpus (filtered CTE base).
    _tomb_terms = ", ".join(
        f"'{t}'" for t in sorted(set(analyze_text("spark merge stream")))
    )
    o["ft_match_deleted"] = f"""{_bm25_cte()}
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN ({_tomb_terms}) AND doc_id % 7 <> 3
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 10
"""
    o["ft_match_purged"] = f"""{
        _bm25_cte(base="(SELECT * FROM documents WHERE doc_id % 7 <> 3)")
    }
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN ({_tomb_terms})
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 10
"""

    # upsert lifecycle: delete-then-add + full purging merge must be
    # score-identical to BM25 over the POST-update corpus (the %7==3
    # docs carry their appended text, everything else unchanged)
    _ups_terms = ", ".join(
        f"'{t}'" for t in sorted(set(analyze_text("spark upsert stream")))
    )
    o["ft_match_upserted"] = f"""{
        _bm25_cte(
            base="(SELECT doc_id, CASE WHEN doc_id % 7 = 3 "
            "THEN text || ' upsert refresh stream' ELSE text END AS text "
            "FROM documents)"
        )
    }
SELECT doc_id, round(sum(c), 4) AS score
FROM contrib WHERE term IN ({_ups_terms})
GROUP BY doc_id
ORDER BY round(sum(c), 4) DESC, doc_id ASC
LIMIT 10
"""

    # hyperplane family (r6): the SAME seeded planes as the entry
    # (_ANN_PLANES), inlined as DOUBLE[] literals; dots via list_sum of
    # the zipped products — DuckDB sums sequentially, matching the JVM
    # aggregate fold bit-for-bit (verified against the Python fold)
    def _pl_dot(vec_expr: str, plane: list[float]) -> str:
        arr = "[" + ", ".join(repr(float(x)) for x in plane) + "]::DOUBLE[]"
        return (
            f"list_sum(list_transform(list_zip({vec_expr}, {arr}), "
            "x -> x[1]::DOUBLE * x[2]))"
        )

    def _pl_bucket(vec_expr: str) -> str:
        return " || ".join(
            f"CASE WHEN {_pl_dot(vec_expr, p)} >= 0 THEN '1' ELSE '0' END"
            for p in _ANN_PLANES
        )

    o["sim_lsh_topk"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qb AS (SELECT ({_pl_bucket("qv")}) AS b FROM q),
cand AS (
  SELECT e.* FROM embeddings e, qb
  WHERE e.vec_id != 0 AND ({_pl_bucket("e.embedding")}) = qb.b
),
dots AS (
  SELECT c.vec_id,
         list_sum(list_transform(list_zip(c.embedding, q.qv),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(c.embedding, v -> v::DOUBLE * v::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(q.qv, v -> v::DOUBLE * v::DOUBLE))) AS nb
  FROM cand c, q
)
SELECT vec_id, round(dot / (na * nb), 4) AS cosine
FROM dots
ORDER BY round(dot / (na * nb), 4) DESC, vec_id ASC
LIMIT 10
"""

    # sim_ann_indexed: query bucket + the single-bit flip at the
    # weakest-margin PLANE (argmin |dot(qv, plane_i)|, lowest index on
    # ties — mirrors query_buckets_planes probes=2)
    _nq = len(_ANN_PLANES)
    _qd_cols = ", ".join(
        f'{_pl_dot("qv", p)} AS d{i}' for i, p in enumerate(_ANN_PLANES)
    )
    _flip_case = (
        "CASE "
        + " ".join(
            "WHEN "
            + " AND ".join(
                f"abs(d{i}) <= abs(d{j})" for j in range(_nq) if j != i
            )
            + f" THEN {i}"
            for i in range(_nq - 1)
        )
        + f" ELSE {_nq - 1} END"
    )
    _b1 = " || ".join(
        f"CASE WHEN d{i} >= 0 THEN '1' ELSE '0' END" for i in range(_nq)
    )
    _b2 = " || ".join(
        f"CASE WHEN (d{i} >= 0) <> (flip = {i}) THEN '1' ELSE '0' END"
        for i in range(_nq)
    )
    o["sim_ann_indexed"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
qd AS (SELECT qv, {_qd_cols} FROM q),
fi AS (SELECT *, {_flip_case} AS flip FROM qd),
buckets AS (
  SELECT qv, ({_b1}) AS b FROM fi
  UNION ALL
  SELECT qv, ({_b2}) AS b FROM fi
),
cand AS (
  SELECT DISTINCT e.vec_id, e.embedding, b.qv
  FROM embeddings e JOIN buckets b ON ({_pl_bucket("e.embedding")}) = b.b
  WHERE e.vec_id != 0
),
dots AS (
  SELECT vec_id,
         list_sum(list_transform(list_zip(embedding, qv),
                  x -> x[1]::DOUBLE * x[2]::DOUBLE)) AS dot,
         sqrt(list_sum(list_transform(embedding, v -> v::DOUBLE * v::DOUBLE))) AS na,
         sqrt(list_sum(list_transform(qv, v -> v::DOUBLE * v::DOUBLE))) AS nb
  FROM cand
)
SELECT vec_id, round(dot / (na * nb), 4) AS cosine
FROM dots
ORDER BY round(dot / (na * nb), 4) DESC, vec_id ASC
LIMIT 10
"""

    # sim_ivf_topk: recorded quantizer (see _IVF_CENTROIDS) → per-vector
    # assignment by max cosine (ties → lowest centroid id), probe the
    # query's top-2 lists, exact cosine top-k within them
    _cent_rows = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    _cosexpr = (
        "list_sum(list_transform(list_zip({a}, {b}), x -> x[1]::DOUBLE * x[2]::DOUBLE))"
        " / (sqrt(list_sum(list_transform({a}, v -> v::DOUBLE * v::DOUBLE)))"
        " * sqrt(list_sum(list_transform({b}, v -> v::DOUBLE * v::DOUBLE))))"
    )
    o["sim_ivf_topk"] = f"""
WITH cents(cid, c) AS (VALUES {_cent_rows}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT cid FROM cents, q
  ORDER BY {_cosexpr.format(a="qv", b="c")} DESC, cid ASC
  LIMIT 2
),
assign AS (
  SELECT e.vec_id, e.embedding, cents.cid,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_cosexpr.format(a="e.embedding", b="cents.c")} DESC, cents.cid ASC
         ) AS rn
  FROM embeddings e CROSS JOIN cents
  WHERE e.vec_id != 0
),
cand AS (
  SELECT vec_id, embedding FROM assign
  WHERE rn = 1 AND cid IN (SELECT cid FROM probes)
)
SELECT c.vec_id, round({_cosexpr.format(a="c.embedding", b="q.qv")}, 4) AS cosine
FROM cand c, q
ORDER BY round({_cosexpr.format(a="c.embedding", b="q.qv")}, 4) DESC, c.vec_id ASC
LIMIT 10
"""

    # dd_simhash_pairs: banded-hamming self-join, fully SQL-expressible —
    # simhash per doc (same CTE as dd_simhash), 4 bands of 4 bits, join
    # within a band, exact hamming ≤ 3 verification
    _sh_cte = f"""
WITH toks AS (
  SELECT doc_id, unnest({_ANALYZE_TEXT_SQL}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
h AS (SELECT doc_id, tf, md5(tok) AS h FROM tf),
sums AS (SELECT doc_id, {_bit_sums} FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, {_bit_concat} AS simhash FROM sums),
bands0 AS (
  {" UNION ALL ".join(
    f"SELECT doc_id, simhash, {b} AS band, substr(simhash, {b*4+1}, 4) AS band_bits FROM sh"
    for b in range(4)
  )}
),
bands AS (
  -- mirror the engine's max_bucket=1000 hot-bucket drop
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_bits) <= 1000
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_bits = b.band_bits AND a.doc_id < b.doc_id
)"""
    _ham = " + ".join(
        f"(substr(sh_a, {p}, 1) != substr(sh_b, {p}, 1))::INT" for p in range(1, 17)
    )
    o["dd_simhash_pairs"] = f"""{_sh_cte}
SELECT id_a, id_b, ({_ham})::BIGINT AS hamming
FROM cand
WHERE ({_ham}) <= 3
"""

    # dd_jaccard_lsh: the full scale path in SQL — LSH candidates (same
    # bands + max_bucket cap as dd_minhash_lsh) then EXACT shingle
    # Jaccard verification of only the candidate pairs
    o["dd_jaccard_lsh"] = f"""
WITH toks AS (
  SELECT doc_id, {_ANALYZE_TEXT_SQL} AS arr FROM documents
),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(arr) - 1),
           i -> array_to_string(arr[i : i + 2], ' ')
         ))) AS shingle
  FROM toks
  WHERE len(arr) >= 3
),
sig AS (
  SELECT doc_id, {_mh_cols} FROM sh GROUP BY doc_id
),
bands0 AS ({_band_exprs}),
bands AS (
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= 1000
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE i / (sa.sz + sb.sz - i) >= 0.2
"""

    # stream_windows: live Structured Streaming micro-batch; the per-day
    # counts are SQL-checkable:
    o["stream_windows"] = (
        "SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, "
        "count(*) AS count FROM events GROUP BY 1"
    )

    # I2 at unbounded size == one slice per leading hex char (pruning
    # empty prefixes), in alphabet order — exactly a grouped count
    o["plan_id_slices"] = (
        "SELECT substr(md5(event_id::VARCHAR), 1, 1) AS key_prefix, "
        "count(*) AS count FROM events GROUP BY 1 HAVING count(*) > 0"
    )

    # plan_date_slices / plan_id_slices_optimized: the recursive walks
    # are not SQL-expressible, so the oracles pin the RECORDED slice
    # boundaries (golden, like tests/test_even_spread_goldens.py) and
    # let DuckDB independently recount each slice — a boundary drift OR
    # a count drift both fail the value gate. Recorded at sf0.01, the
    # only SF the driver value-checks.
    _day = 86_400_000
    _date_slices = ", ".join(
        f"({i * _day}, {(i + 1) * _day})" for i in range(31)
    )
    o["plan_date_slices"] = f"""
WITH slices(start_off, end_off) AS (VALUES {_date_slices}),
k AS (
  SELECT epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01') AS off FROM events
)
SELECT s.start_off, s.end_off, count(k.off) AS count
FROM slices s LEFT JOIN k ON k.off >= s.start_off AND k.off < s.end_off
GROUP BY 1, 2
"""

    # D5 subslice: recorded day boundaries; a day with ≥ 300 docs splits
    # into per-md5-prefix rows, below-threshold and empty days stay whole
    o["plan_date_subslices"] = f"""
WITH days(start_off, end_off) AS (VALUES {_date_slices}),
k AS (
  SELECT epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01') AS off,
         substr(md5(event_id::VARCHAR), 1, 1) AS p
  FROM events
),
totals AS (
  SELECT d.start_off, d.end_off, count(k.off) AS c
  FROM days d LEFT JOIN k ON k.off >= d.start_off AND k.off < d.end_off
  GROUP BY 1, 2
)
SELECT t.start_off, t.end_off, k.p AS key_prefix, count(*) AS count
FROM totals t JOIN k ON k.off >= t.start_off AND k.off < t.end_off
WHERE t.c >= 300
GROUP BY 1, 2, 3
UNION ALL
SELECT start_off, end_off, '' AS key_prefix, c AS count
FROM totals WHERE c < 300
"""

    _i3_classes = [
        ("0", "0123"), ("0", "4567"), ("0", "89ab"), ("0", "cdef"),
        ("1", "0123"), ("1", "4567"), ("1", "89ab"), ("1", "cdef"),
        ("2", "0123"), ("2", "4567"), ("2", "89ab"), ("2", "cdef"),
        ("3", "0123"), ("3", "4567"), ("3", "89ab"), ("3", "cdef"),
        ("4", "01234"), ("4", "56789"), ("4", "abcde"), ("4", "f"),
        ("5", "01234"), ("5", "56789"), ("5", "abcde"), ("5", "f"),
        ("6", "01234"), ("6", "5678"), ("6", "9abc"), ("6", "def"),
        ("7", "01234"), ("7", "56789"), ("7", "abcd"), ("7", "ef"),
        ("8", "0123"), ("8", "4567"), ("8", "89ab"), ("8", "cdef"),
        ("9", "01234"), ("9", "5678"), ("9", "9abc"), ("9", "def"),
        ("a", "0123"), ("a", "4567"), ("a", "89ab"), ("a", "cdef"),
        ("b", "01234"), ("b", "56789"), ("b", "abcde"), ("b", "f"),
        ("c", "0123"), ("c", "4567"), ("c", "89ab"), ("c", "cdef"),
        ("d", "0123"), ("d", "4567"), ("d", "89ab"), ("d", "cdef"),
        ("e", "01234"), ("e", "56789"), ("e", "abcde"), ("e", "f"),
        ("f", "0123"), ("f", "4567"), ("f", "89ab"), ("f", "cdef"),
    ]

    def _class_expr(chars: str) -> str:
        # reference-printable char class: runs within numerics/hex-letter
        # sections ('89ab' → '8-9a-b'; single char stays bare)
        parts = []
        for sec in ("0123456789", "abcdef"):
            run = [c for c in chars if c in sec]
            if not run:
                continue
            parts.append(run[0] if len(run) == 1 else f"{run[0]}-{run[-1]}")
        body = "".join(parts)
        return f"[{body}]"

    _i3_rows = ", ".join(
        f"('{c1}', '{c2}', '{c1}{_class_expr(chars)}')"
        for c1, chars in _i3_classes
        for c2 in chars
    )
    o["plan_id_slices_optimized"] = f"""
WITH m(c1, c2, key_expr) AS (VALUES {_i3_rows}),
k AS (
  SELECT substr(md5(event_id::VARCHAR), 1, 1) AS c1,
         substr(md5(event_id::VARCHAR), 2, 1) AS c2
  FROM events
)
SELECT m.key_expr, count(*) AS count
FROM k JOIN m USING (c1, c2)
GROUP BY 1
"""

    # mm_features: fake_decode_features derives uint16s from
    # sha256(utf8(text)) — reproduce the byte arithmetic from the hex
    # digest (little-endian uint16 = byte[2i] + 256*byte[2i+1])
    _hd = "strpos('0123456789abcdef', substr(hx, {p}, 1)) - 1"
    _byte_lo = f"(({_hd.format(p='4*dim+1')}) * 16 + ({_hd.format(p='4*dim+2')}))"
    _byte_hi = f"(({_hd.format(p='4*dim+3')}) * 16 + ({_hd.format(p='4*dim+4')}))"
    o["mm_features"] = f"""
WITH h AS (
  SELECT doc_id, sha256(text) AS hx, strlen(text) AS n_bytes FROM documents
),
dims AS (SELECT unnest(range(16)) AS dim)
SELECT doc_id, dim,
       {_byte_lo} + 256 * {_byte_hi} AS feat_u16,
       n_bytes
FROM h CROSS JOIN dims
"""

    # mm_meta: the payloads are synthesized with dims = f(doc_id), so
    # the oracle is pure arithmetic — equality holds only if the header
    # parser recovers exactly what the synthesizer encoded
    o["mm_meta"] = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'image/jpeg' END AS mime,
       doc_id % 640 + 1 AS width,
       doc_id % 480 + 1 AS height
FROM documents
"""

    return o
