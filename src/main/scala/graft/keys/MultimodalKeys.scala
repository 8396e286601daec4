package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The multimodal keys (`mm_*`): blob, image, audio and video decode,
  * perceptual dedup and sampling. */
private[graft] object MultimodalKeys extends Family("mm_") {

  lazy val keys: Seq[Key] = Seq(
    Key("mm_near_dup_blobs")((s, dir) =>
      Multimodal.blobNearDupPairs(Tables.documents(s, dir)))(
      s"""WITH $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id < b.doc_id AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        | round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS chunk_jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.id_a
        | JOIN sz sb ON sb.doc_id = sh.id_b
        |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3"""),
    Key("mm_dedup_groups")((s, dir) =>
      Multimodal.blobDedupGroups(Tables.documents(s, dir)))(
      // the blob pair relation + the shared recursive reachability
      // closure (dedup_groups_blocked / dedup_embedding_groups shape)
      s"""WITH RECURSIVE $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id < b.doc_id AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2),
        |m AS (SELECT id_a, id_b FROM sh
        |  JOIN sz sa ON sa.doc_id = sh.id_a
        |  JOIN sz sb ON sb.doc_id = sh.id_b
        |  WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3),
        |${minLabelCtes("m")}
        |SELECT doc_id, group_id, doc_id = group_id AS keep
        |FROM lab"""),
    // the multimodal→embedding bridge as a first-class key: stub
    // decode → per-doc mean-pooled features → exact cosine top-k.
    // Everything is deterministic, so the whole composition is
    // hash-checked against the DuckDB FNV replay (swap decodeStub
    // for a real encoder and only the feature values change).
    Key("mm_pooled_topk")((s, dir) => {
      // decode once; corpus + query side share it
      val pooled = pinned(Multimodal.pooledFeatures(Tables.documents(s, dir))
        .select(col("doc_id").as("vec_id"), col("embedding")))
      Similarity.bruteForceTopK(pooled,
        pooled.filter(col("vec_id") % 50 === 0), k = 10)
    })(
      // the multimodal→embedding bridge, oracle-checked END TO END:
      // the stub decode's FNV-1a fold replays in DuckDB as a
      // list_reduce over HUGEINT (64-bit wraparound via % 2^64; the
      // xor rides on the low byte only, so it stays in BIGINT range),
      // width/height read the same shifted hash windows, luma is an
      // exact integer-sum division, and the pooled per-doc features
      // are FLOAT-narrowed exactly like the Spark side before the
      // double-accumulating cosine. ord()==byte because the corpus is
      // pure ASCII (asserted at all SFs; the other mm oracles already
      // lean on char-index == byte-offset).
      s"""WITH f AS (SELECT doc_id, substr(text, i * 128 + 1, 64) AS frame
        |  $framesFromSql),
        |d AS (SELECT doc_id,
        |  ${fnv1aSql("frame", j = "i")} AS h,
        |  CASE WHEN length(frame) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(range(1, length(frame) + 1),
        |      i -> ord(substr(frame, i, 1)))) AS DOUBLE) / length(frame)
        |  END AS ml FROM f),
        |p AS (SELECT doc_id, CAST([
        |   CAST(avg(CAST(16 + (h // 256) % 48 AS BIGINT)) AS FLOAT),
        |   CAST(avg(CAST(16 + (h // 16777216) % 48 AS BIGINT)) AS FLOAT),
        |   CAST(avg(ml) AS FLOAT),
        |   CAST(stddev_pop(ml) AS FLOAT)] AS FLOAT[]) AS emb
        |  FROM d GROUP BY 1)
        |SELECT query_id, neighbor_id, cosine FROM (
        | SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.emb AS DOUBLE[]),
        |    CAST(c.emb AS DOUBLE[])) AS cosine
        | FROM p q JOIN p c ON c.doc_id != q.doc_id
        | WHERE q.doc_id % 50 = 0) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10"""),
    Key("mm_blob_stats")((s, dir) => Multimodal.blobStats(Tables.documents(s, dir)))(
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha256, hex(substr(text, 1, 4)) AS magic_hex
        |FROM documents"""),
    // REAL codec path, hash-checked end to end: synthesized PNGs
    // (pixels from the replayable FNV-1a recipe) are encoded by the
    // JDK's PNG writer and decoded by its reader; integer channel
    // sums survive the lossless round trip bit-for-bit, so the
    // oracle needs only the pixel recipe, never a codec
    // REAL-codec resize (r16): thumbnails box-average the decoded
    // pixels by integer factor and re-encode; the stats pass then
    // REALLY re-decodes the thumbnails, so the oracle's recipe
    // replay checks the resized pixels bit-for-bit
    Key("mm_thumbnail")((s, dir) =>
      Multimodal.decodeImageStats(Multimodal.thumbnail(
        Multimodal.synthPngCorpus(Tables.documents(s, dir)))))(
      // the resize replayed from the pixel recipe: 2×2 block floored
      // channel means over the FNV pixels, summed over the 4×4 grid —
      // the Spark side's decode→average→encode→decode chain must
      // return exactly these integers (PNG lossless both ways)
      s"""WITH ${sampleHashCte("px", "doc_id, i")},
        |c AS (SELECT doc_id, i,
        |  CAST((h // 256) % 256 AS BIGINT) AS r,
        |  CAST((h // 65536) % 256 AS BIGINT) AS g,
        |  CAST((h // 16777216) % 256 AS BIGINT) AS b FROM px),
        |o AS (SELECT doc_id,
        |  ((i // 8) // 2) * 4 + ((i % 8) // 2) AS op,
        |  sum(r) // 4 AS orr, sum(g) // 4 AS og, sum(b) // 4 AS ob
        | FROM c GROUP BY 1, 2)
        |SELECT doc_id, CAST(4 AS INTEGER) AS width,
        | CAST(4 AS INTEGER) AS height,
        | CAST(sum(orr) AS BIGINT) AS sum_r,
        | CAST(sum(og) AS BIGINT) AS sum_g,
        | CAST(sum(ob) AS BIGINT) AS sum_b
        |FROM o GROUP BY 1"""),
    Key("mm_decode_png")((s, dir) =>
      Multimodal.decodeImageStats(
        Multimodal.synthPngCorpus(Tables.documents(s, dir))))(
      // replay of the synthesized PIXELS, never the codec: pixel i's
      // channels are shifted windows of FNV-1a("doc_id:i") (the
      // mm_pooled_topk HUGEINT fold over the ASCII bytes), and PNG's
      // losslessness means the Spark side's real encode→decode round
      // trip must return exactly these integers
      s"""WITH ${sampleHashCte("px", "doc_id")}
        |SELECT doc_id, CAST(8 AS INTEGER) AS width,
        | CAST(8 AS INTEGER) AS height,
        | CAST(sum((h // 256) % 256) AS BIGINT) AS sum_r,
        | CAST(sum((h // 65536) % 256) AS BIGINT) AS sum_g,
        | CAST(sum((h // 16777216) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1"""),
    // REAL audio decode proof, the WAV twin: synthesized 16-bit PCM
    // (samples from the same replayable FNV-1a recipe) written by
    // the JDK's WAV encoder and read back by javax.sound.sampled;
    // integer sample sums survive the lossless round trip
    // bit-for-bit, so the oracle needs only the sample recipe
    Key("mm_decode_wav")((s, dir) =>
      Multimodal.decodeAudioStats(
        Multimodal.synthWavCorpus(Tables.documents(s, dir))))(
      // replay of the synthesized SAMPLES, never the codec: sample i
      // is the sign-extended low-16 window of FNV-1a("doc_id:i")
      // (same HUGEINT fold as mm_decode_png), and PCM WAV's
      // losslessness means the Spark side's real encode→decode round
      // trip must return exactly these integers
      s"""WITH ${sampleHashCte("sm", "doc_id")},
        |v AS (SELECT doc_id,
        |  $sample16Sql AS smp
        | FROM sm)
        |${monoSampleStats(8000)}"""),
    // REAL-codec audio resample (r16, the thumbnail's audio twin):
    // decimate by 2 (exact sample selection, no float kernel),
    // re-encode at half rate, REALLY re-decode — the oracle replays
    // the kept samples from the recipe bit-for-bit
    Key("mm_audio_decimate")((s, dir) =>
      Multimodal.decodeAudioStats(Multimodal.audioDecimate(
        Multimodal.synthWavCorpus(Tables.documents(s, dir)))))(
      // the resample replayed from the sample recipe: keep i % 2 = 0,
      // half the rate — the Spark side's decode→decimate→encode→
      // decode chain must return exactly these integers
      s"""WITH ${sampleHashCte("sm", "doc_id, i")},
        |v AS (SELECT doc_id,
        |  $sample16Sql AS smp
        | FROM sm WHERE i % 2 = 0)
        |${monoSampleStats(4000)}"""),
    // feature extraction over the REALLY-decoded samples: RMS / peak
    // / zero-crossings, all exact-integer-derived (one sqrt), so the
    // whole row replays bit-for-bit through the codec round trip
    Key("mm_audio_features")((s, dir) =>
      Multimodal.audioFeatures(
        Multimodal.synthWavCorpus(Tables.documents(s, dir))))(
      // same sample replay as mm_decode_wav, with per-sample index
      // kept for the lag-based zero-crossing count; Σv² is an exact
      // long and rms one sqrt of one exact division, so even the
      // float column is bit-stable
      s"""WITH ${sampleHashCte("sm", "doc_id, i")},
        |v AS (SELECT doc_id, i,
        |  CAST($sample16Sql AS BIGINT) AS smp
        | FROM sm),
        |f AS (SELECT doc_id, smp,
        |  lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        | FROM v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        | sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)) AS rms,
        | CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
        | CAST(sum(CASE WHEN prev IS NOT NULL
        |   AND ((smp >= 0) != (prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS zero_crossings
        |FROM f GROUP BY 1"""),
    // PERCEPTUAL near-dup over DECODED pixels: dHash gradient signs
    // survive re-encoding, so the planted PNG→BMP copies (identical
    // pixels, zero shared container bytes) pair HERE while the
    // chunk-hash tier structurally misses them; banding is lossless
    // (bands > maxHamming) so the oracle is the exhaustive all-pairs
    // definition with no candidate rule
    Key("mm_phash_pairs")((s, dir) =>
      Multimodal.phashPairs(sharedPhashSigs(s, dir)))(
      // EXHAUSTIVE all-pairs tail over the shared signature replay
      // (no candidate rule - the banded plan must be lossless)
      s"""WITH $phashSigCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6"""),
    // the keep decision over the perceptual pairs: BMP re-encodes
    // suppress, PNG originals survive
    Key("mm_phash_dedup")((s, dir) =>
      Multimodal.phashSummary(sharedPhashSigs(s, dir)))(
      // per-blob summary tail: the keep decision over the same
      // exhaustive pair relation (keep = no smaller-id perceptual
      // dup), sim = 56 - hamming so bigger is more similar
      s"""WITH $phashSigCtes,
        |verified AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  56 - bit_count(xor(a.dhash, b.dhash)) AS sim
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |${dupSidesCte("CAST(sim AS DOUBLE)")},
        |$dupPerdocCte
        |${dupKeepSql()}"""),
    Key("mm_phash_groups")((s, dir) => sharedPhashGroups(s, dir))(
      // recursive reachability closure over the exhaustive pair
      // relation: label = min id reachable through undirected edges
      s"""WITH RECURSIVE $phashSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab"""),
    // keep-THE-BEST-copy over the image closure (r14): survivor =
    // highest decoded pixel count, ties min id — the store carries
    // the rank key, no second decode; same closure as groups
    Key("mm_phash_keep_best")((s, dir) =>
      Multimodal.phashKeepBest(sharedPhashSigs(s, dir),
        sharedPhashGroups(s, dir)))(
      // the groups closure + the best-copy window: rank = decoded
      // pixel count, replayed from the fixture recipe (r16: the
      // % 20 == 11 class is a 2× upscale, 256 px vs 64) — padded
      // restorations out-rank their smaller-id masters, so the rank
      // ORDERING itself is oracle-covered, not just the tie-break
      s"""WITH RECURSIVE $phashSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
         |${minLabelCtes("pp")},
         |rk AS (SELECT doc_id, group_id, rank_key,
         |  row_number() OVER (PARTITION BY group_id
         |    ORDER BY rank_key DESC, doc_id) AS rn
         | FROM (SELECT doc_id, group_id,
         |   CAST(CASE WHEN doc_id % 20 = 11 THEN 256 ELSE 64 END
         |    AS BIGINT) AS rank_key
         |   FROM lab) lr)
         |SELECT doc_id, group_id, rank_key, rn = 1 AS keep
         |FROM rk"""),
    // nightly-ingest perceptual dedup: new batch (doc_id % 5 == 1 —
    // half planted BMP re-encodes that must match, half originals
    // that must not) probes the signature STORE of the rest; both
    // sides thread the pinned store, so history pays zero codec work
    Key("mm_phash_incremental")((s, dir) => {
      val sigs = sharedPhashSigs(s, dir)
      Multimodal.phashIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    })(
      // EXHAUSTIVE new-batch x store comparison over the shared
      // signature replay (no candidate rule — the banded plan must
      // be lossless); best match = min (hamming, store_id)
      s"""WITH $phashSigCtes,
        |nd AS (SELECT doc_id, dhash FROM sig WHERE doc_id % 5 = 1),
        |st AS (SELECT doc_id AS store_id, dhash FROM sig
        | WHERE doc_id % 5 <> 1),
        |p AS (SELECT nd.doc_id, st.store_id,
        |  CAST(bit_count(xor(nd.dhash, st.dhash)) AS INTEGER) AS hamming
        | FROM nd JOIN st ON bit_count(xor(nd.dhash, st.dhash)) <= 6),
        |$storeMatchSql"""),
    // perceptual AUDIO near-dup (r13): sign-of-delta signatures over
    // really-decoded PCM — volume-scaled copies (doc_id % 10 == 1,
    // truncation-halved samples) pair here while every byte tier
    // misses them; banding lossless, oracle exhaustive
    Key("mm_audio_sig_pairs")((s, dir) =>
      Multimodal.audioSigPairs(sharedAudioSigs(s, dir)))(
      // exhaustive all-pairs definition, no candidate rule: the
      // banding is pigeonhole-lossless; samples replay the xxhash64
      // recipe (Xx64Sql step chain) with the scaled-copy rule,
      // sig = 63 sign-of-delta bits
      s"""WITH $audioSigCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.asig, b.asig)) AS INTEGER) AS hamming
         |FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.asig, b.asig)) <= 6"""),
    Key("mm_audio_sig_dedup")((s, dir) =>
      Multimodal.audioSigDedup(sharedAudioSigs(s, dir)))(
      // the pair-summary tail over the same exhaustive relation
      s"""WITH $audioSigCtes,
         |verified AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  63 - bit_count(xor(a.asig, b.asig)) AS sim
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${dupSidesCte("CAST(sim AS DOUBLE)")},
         |$dupPerdocCte
         |${dupKeepSql()}"""),
    Key("mm_audio_sig_groups")((s, dir) => sharedAudioGroups(s, dir))(
      // recursive reachability closure over the exhaustive pair
      // relation: label = min id reachable through undirected edges
      s"""WITH RECURSIVE $audioSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab"""),
    // OFFSET-ROBUST audio pairs (r14): winnowed per-window
    // sign-of-delta fingerprints — trimmed copies (doc_id % 10 == 1,
    // first 37 samples cut) pair with their masters here while the
    // prefix tier provably misses them (spec-pinned)
    Key("mm_audio_winnow_pairs")((s, dir) =>
      Multimodal.audioWinnowPairs(sharedAudioWinnowSigs(s, dir)))(
      // exact fingerprint-match definition over the winnowed replay
      // (the production tier: shared-fingerprint equi-join, zero
      // Hamming slack — redundancy across O(n/wSel) fingerprints is
      // the robustness); buckets capped at the operator's 256
      // smallest ids (r15, mirroring the Spark-side maxBucket
      // guard); doc pairs fold to the shared count
      s"""WITH $audioWinnowCtes, $audioWinnowPairCte
         |SELECT id_a, id_b,
         | CAST(0 AS INTEGER) AS best_hamming,
         | CAST(count(*) AS BIGINT) AS n_shared
         |FROM wpair
         |GROUP BY 1, 2"""),
    // summary tail over the winnow pairs: keep = no smaller-id
    // offset-duplicate, score = shared-fingerprint count
    Key("mm_audio_winnow_dedup")((s, dir) =>
      Multimodal.audioWinnowDedup(sharedAudioWinnowSigs(s, dir)))(
      // the pair-summary tail over the exact-match fingerprint pair
      // relation; score = shared count, keep = not dominated
      s"""WITH $audioWinnowCtes, $audioWinnowPairCte,
         |verified AS (SELECT id_a, id_b,
         |  CAST(count(*) AS DOUBLE) AS sim
         | FROM wpair
         | GROUP BY 1, 2),
         |${dupSidesCte("sim")},
         |$dupPerdocCte
         |${dupKeepSql("(SELECT DISTINCT doc_id FROM wsg) d")}"""),
    // closure over the winnow pairs: a trim of a trim chains to its
    // master; completes the tier's pairs → groups → incremental
    // parity (r15: reads the pinned closure the keep-best key shares)
    Key("mm_audio_winnow_groups")((s, dir) => sharedAudioWinnowGroups(s, dir))(
      // recursive reachability closure over the exact-match
      // fingerprint pair relation (capped buckets, the operator's
      // guard); label = min reachable id
      s"""WITH RECURSIVE $audioWinnowCtes, $audioWinnowPairCte,
         |pp AS (SELECT DISTINCT id_a, id_b FROM wpair),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab"""),
    // nightly-ingest twin: new batch (doc_id % 5 == 1 — half trimmed
    // copies that must match, half originals that must not) probes
    // the winnowed fingerprint store; history pays zero codec work
    Key("mm_audio_winnow_incremental")((s, dir) => {
      val sigs = sharedAudioWinnowSigs(s, dir)
      Multimodal.audioWinnowIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    })(
      // exact new-fingerprints x store match (the production tier);
      // n_matches = distinct store docs sharing a fingerprint, best
      // match = min store_id (every match is exact, hamming 0)
      s"""WITH $audioWinnowCtes,
         |nd AS (SELECT doc_id, wsig FROM wsg WHERE doc_id % 5 = 1),
         |st AS (SELECT doc_id AS store_id, wsig AS swsig FROM wsg
         | WHERE doc_id % 5 <> 1),
         |p AS (SELECT DISTINCT nd.doc_id, st.store_id
         | FROM nd JOIN st ON st.swsig = nd.wsig),
         |${exactStoreMatchSql(
           "CAST(CASE WHEN a.n_matches IS NULL THEN -1 ELSE 0 END AS INTEGER) AS best_hamming,")}"""),
    // winnow keep-best (r15): survivor = longest decoded recording
    // over the OFFSET-duplicate closure — and the first keep-best
    // whose rank ORDERING is oracle-covered: extension copies
    // (doc_id % 20 == 11) are longer than their smaller-id masters,
    // so rank and min-id disagree on real fixture rows
    Key("mm_audio_winnow_keep_best")((s, dir) =>
      Multimodal.audioWinnowKeepBest(sharedAudioWinnowSigs(s, dir),
        sharedAudioWinnowGroups(s, dir)))(
      // same closure, longest-recording survivor: rank = the decoded
      // sample count the fixture VARIES in both directions (trims
      // shorter than their smaller-id master, extensions LONGER), so
      // the ordering itself is oracle-covered, ties to min id
      s"""WITH RECURSIVE $audioWinnowCtes, $audioWinnowPairCte,
         |pp AS (SELECT DISTINCT id_a, id_b FROM wpair),
         |${minLabelCtes("pp")}
         |SELECT l.doc_id, l.group_id,
         | CAST(w.n AS BIGINT) AS rank_key,
         | (row_number() OVER (PARTITION BY l.group_id
         |   ORDER BY w.n DESC, l.doc_id) = 1) AS keep
         |FROM lab l JOIN wdn w USING (doc_id)"""),
    // CROP-ROBUST image pairs (r15): winnowed per-tile gradient
    // fingerprints — cropped copies (doc_id % 10 == 1, an 8×8 crop
    // of the previous doc's 12×12 pixels at offset (2,3)) pair with
    // their masters here while the whole-image tier structurally
    // cannot see them (spec-pinned, the audio-winnow pattern)
    Key("mm_phash_winnow_pairs")((s, dir) =>
      Multimodal.imageWinnowPairs(sharedImageWinnowSigs(s, dir)))(
      // exact tile-fingerprint-match definition over the crop-fixture
      // winnowed replay (capped buckets, the operator's guard); doc
      // pairs fold to the shared-fingerprint count
      s"""WITH $imageWinnowCtes
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM ipair GROUP BY 1, 2"""),
    // summary tail over the crop pairs: keep = no smaller-id
    // crop-duplicate, score = shared-fingerprint count
    Key("mm_phash_winnow_dedup")((s, dir) =>
      Multimodal.imageWinnowDedup(sharedImageWinnowSigs(s, dir)))(
      // the pair-summary tail over the crop pair relation
      s"""WITH $imageWinnowCtes,
         |verified AS (SELECT id_a, id_b,
         |  CAST(count(*) AS DOUBLE) AS sim
         | FROM ipair GROUP BY 1, 2),
         |${dupSidesCte("sim")},
         |$dupPerdocCte
         |${dupKeepSql("(SELECT DISTINCT doc_id FROM iwsg) d")}"""),
    // closure over the crop pairs: a crop of a crop chains to its
    // master; pinned, shared with the keep-best key
    Key("mm_phash_winnow_groups")((s, dir) => sharedImageWinnowGroups(s, dir))(
      // recursive reachability closure over the crop pair relation
      s"""WITH RECURSIVE $imageWinnowCtes,
         |pp AS (SELECT DISTINCT id_a, id_b FROM ipair),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab"""),
    // image winnow keep-best (r15): survivor = highest decoded pixel
    // count over the crop-duplicate closure — padded restorations
    // (doc_id % 20 == 11) are LARGER than their smaller-id masters,
    // so the rank ordering is oracle-covered, not just the tie-break
    Key("mm_phash_winnow_keep_best")((s, dir) =>
      Multimodal.imageWinnowKeepBest(sharedImageWinnowSigs(s, dir),
        sharedImageWinnowGroups(s, dir)))(
      // same closure, highest-resolution survivor: rank = the
      // decoded pixel count the fixture VARIES in both directions
      // (crops smaller than their smaller-id masters, padded
      // restorations LARGER), so the ordering itself is
      // oracle-covered, ties to min id
      s"""WITH RECURSIVE $imageWinnowCtes,
         |pp AS (SELECT DISTINCT id_a, id_b FROM ipair),
         |${minLabelCtes("pp")},
         |iwn AS (SELECT DISTINCT doc_id,
         |  CAST(w AS BIGINT) * w AS px FROM iw0)
         |SELECT l.doc_id, l.group_id, iwn.px AS rank_key,
         | (row_number() OVER (PARTITION BY l.group_id
         |   ORDER BY iwn.px DESC, l.doc_id) = 1) AS keep
         |FROM lab l JOIN iwn USING (doc_id)"""),
    // nightly-ingest twin: new batch (doc_id % 5 == 1 — half cropped
    // copies that must match, half originals that must not) probes
    // the winnowed fingerprint store; history pays zero codec work
    Key("mm_phash_winnow_incremental")((s, dir) => {
      val sigs = sharedImageWinnowSigs(s, dir)
      Multimodal.imageWinnowIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    })(
      // exact new-fingerprints x store match; n_matches = distinct
      // store docs sharing a tile fingerprint, best = min store_id
      s"""WITH $imageWinnowCtes,
         |nd AS (SELECT doc_id, fp FROM iwsg WHERE doc_id % 5 = 1),
         |st AS (SELECT doc_id AS store_id, fp AS sfp FROM iwsg
         | WHERE doc_id % 5 <> 1),
         |p AS (SELECT DISTINCT nd.doc_id, st.store_id
         | FROM nd JOIN st ON st.sfp = nd.fp),
         |${exactStoreMatchSql()}"""),
    // audio keep-best (r14): survivor = longest decoded recording
    // (sample count off the store), ties min id; groups' closure
    Key("mm_audio_keep_best")((s, dir) =>
      Multimodal.audioSigKeepBest(sharedAudioSigs(s, dir),
        sharedAudioGroups(s, dir)))(
      // the audio closure + the best-copy window: rank = decoded
      // sample count, replayed from the fixture recipe (r16: the
      // % 20 == 11 class is a 96-sample extended master vs 64) —
      // the longer restoration out-ranks its smaller-id source, so
      // the rank ORDERING itself is oracle-covered
      s"""WITH RECURSIVE $audioSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${minLabelCtes("pp")},
         |rk AS (SELECT doc_id, group_id, rank_key,
         |  row_number() OVER (PARTITION BY group_id
         |    ORDER BY rank_key DESC, doc_id) AS rn
         | FROM (SELECT doc_id, group_id,
         |   CAST(CASE WHEN doc_id % 20 = 11 THEN 96 ELSE 64 END
         |    AS BIGINT) AS rank_key
         |   FROM lab) lr)
         |SELECT doc_id, group_id, rank_key, rn = 1 AS keep
         |FROM rk"""),
    // nightly-ingest audio dedup (r13): new batch (doc_id % 5 == 1 —
    // half re-leveled copies that must match, half originals that
    // must not) probes the signature store; history pays zero codec
    Key("mm_audio_sig_incremental")((s, dir) => {
      val sigs = sharedAudioSigs(s, dir)
      Multimodal.audioSigIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    })(
      // EXHAUSTIVE new-batch x store comparison over the xxhash64
      // signature replay (no candidate rule); best match =
      // min (hamming, store_id)
      s"""WITH $audioSigCtes,
        |nd AS (SELECT doc_id, asig FROM asg WHERE doc_id % 5 = 1),
        |st AS (SELECT doc_id AS store_id, asig FROM asg
        | WHERE doc_id % 5 <> 1),
        |p AS (SELECT nd.doc_id, st.store_id,
        |  CAST(bit_count(xor(nd.asig, st.asig)) AS INTEGER) AS hamming
        | FROM nd JOIN st ON bit_count(xor(nd.asig, st.asig)) <= 6),
        |$storeMatchSql"""),
    Key("mm_frame_sample")((s, dir) => Multimodal.frameSample(Tables.documents(s, dir)))(
      s"""SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        | CAST(i * 128 AS BIGINT) AS byte_offset,
        | CAST(length(substr(text, i * 128 + 1, 64)) AS BIGINT) AS frame_len,
        | md5(substr(text, i * 128 + 1, 64)) AS frame_md5
        |$framesFromSql"""),
    // video scene structure (r15): cuts = consecutive-frame luma
    // jumps over the stub decode's exact-rational luma; the shot
    // summary drives frame-sampling budgets (one keyframe per shot)
    Key("mm_scene_cuts")((s, dir) =>
      Multimodal.sceneCuts(Tables.documents(s, dir)))(
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, frame_idx, round(pml, 6) AS prev_luma,
          | round(ml, 6) AS luma, round(abs(ml - pml), 6) AS delta
          |FROM d WHERE pml IS NOT NULL AND abs(ml - pml) > 6.0"""),
    Key("mm_shot_stats")((s, dir) =>
      Multimodal.shotStats(Tables.documents(s, dir)))(
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, count(*) AS n_frames,
          | CAST(sum(CASE WHEN pml IS NOT NULL AND abs(ml - pml) > 6.0
          |  THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
          | CAST(sum(CASE WHEN pml IS NOT NULL AND abs(ml - pml) > 6.0
          |  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
          | round(count(*) / (sum(CASE WHEN pml IS NOT NULL
          |   AND abs(ml - pml) > 6.0 THEN 1 ELSE 0 END) + 1.0), 6)
          |  AS avg_shot_len
          |FROM d GROUP BY 1"""),
    // the budget consumer: one keyframe per shot (first frame of
    // each), numbered in playback order — same shared cut rule
    Key("mm_keyframe_sample")((s, dir) =>
      Multimodal.keyframeSample(Tables.documents(s, dir)))(
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, frame_idx,
          | row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx)
          |  - 1 AS shot_idx,
          | round(ml, 6) AS luma
          |FROM d WHERE frame_idx = 0
          | OR (pml IS NOT NULL AND abs(ml - pml) > 6.0)"""),
    Key("mm_chunk_dedup")((s, dir) => Multimodal.chunkDedup(Tables.documents(s, dir)))(
      s"""SELECT frame_md5, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS n_occurrences, min(doc_id) AS first_doc_id
        |FROM (SELECT doc_id, md5(substr(text, i * 128 + 1, 64)) AS frame_md5
        |  $framesFromSql) f
        |GROUP BY frame_md5 HAVING count(DISTINCT doc_id) > 1"""),
    Key("mm_type_summary")((s, dir) =>
      Multimodal.typeSummary(Tables.documents(s, dir)))(
      """SELECT hex(substr(text, 1, 2)) AS magic2, count(*) AS n_blobs,
        | CAST(sum(length(text)) AS BIGINT) AS total_bytes,
        | CAST(min(length(text)) AS BIGINT) AS min_bytes,
        | CAST(max(length(text)) AS BIGINT) AS max_bytes
        |FROM documents GROUP BY 1"""),
    Key("mm_blob_policy")((s, dir) =>
      Multimodal.blobPolicy(Tables.documents(s, dir)))(
      // byte_share is ONE division of two exact longs — replays
      // bit-for-bit, so the threshold CASE needs no rounding
      """WITH t AS (SELECT hex(substr(text, 1, 2)) AS magic2,
        |  count(*) AS n_blobs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_bytes
        | FROM documents GROUP BY 1)
        |SELECT magic2, n_blobs, total_bytes,
        | CAST(total_bytes AS DOUBLE)
        |  / CAST(CAST(sum(total_bytes) OVER () AS BIGINT) AS DOUBLE)
        |  AS byte_share,
        | CASE WHEN n_blobs < 3 THEN 'drop'
        |  WHEN CAST(total_bytes AS DOUBLE)
        |   / CAST(CAST(sum(total_bytes) OVER () AS BIGINT) AS DOUBLE) > 0.25
        |  THEN 'cap' ELSE 'keep' END AS action
        |FROM t"""),
    Key("mm_blob_dedup_incremental")((s, dir) => {
      val d = Tables.documents(s, dir)
      Multimodal.incrementalBlobPairs(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    })(
      // new×history pairs only; chunk df capped over the union
      s"""WITH $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |   AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2)
        |SELECT new_id, corpus_id, n_shared,
        | round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS chunk_jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.new_id
        | JOIN sz sb ON sb.doc_id = sh.corpus_id
        |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3"""),
    Key("mm_dedup_by_type")((s, dir) =>
      Multimodal.dedupByType(Tables.documents(s, dir)))(
      // payloads never aggregate: the inner (type, sha) collapse
      // carries hashes + byte counts; a sha group's representative
      // size is max(len) (identical payloads, identical length)
      """WITH b AS (SELECT hex(substr(text, 1, 2)) AS magic2,
        |  sha256(text) AS sha, length(text) AS len FROM documents),
        |g AS (SELECT magic2, sha, count(*) AS n, max(len) AS len1,
        |  CAST(sum(len) AS BIGINT) AS bytes FROM b GROUP BY 1, 2)
        |SELECT magic2, CAST(sum(n) AS BIGINT) AS n_blobs,
        | count(*) AS n_distinct,
        | round(1.0 - count(*) * 1.0 / CAST(sum(n) AS BIGINT), 6)
        |  AS dup_ratio,
        | CAST(sum(bytes) - sum(len1) AS BIGINT) AS reclaimable_bytes
        |FROM g GROUP BY 1"""),
    Key("mm_format_psi")((s, dir) =>
      Multimodal.formatPsi(Tables.documents(s, dir)))(
      // categorical PSI over sniffed formats, halves at the doc_id
      // midpoint; Laplace term count is the format universe
      s"""WITH b AS (SELECT doc_id, hex(substr(text, 1, 2)) AS magic2
        | FROM documents),
        |m AS (SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2) AS BIGINT)
        |  AS mid FROM documents),
        |g AS (SELECT magic2,
        |  CAST(sum(CASE WHEN doc_id <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_a,
        |  CAST(sum(CASE WHEN doc_id <= m.mid THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_b
        | FROM b, m GROUP BY 1),
        |${laplaceShareCte("magic2")},
        |${psiTermsSql("magic2")}"""),
  )
}
