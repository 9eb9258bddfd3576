package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Parity
import graft.multimodal.Multimodal
import graft.operators.{Cards, ScaleOps}
import graft.text.TextAnalysis

/** Remaining SURVEY §2 coverage: card assembly (J6/F18/R5), multimodal
  * plumbing, keyword priority ordering (F7), entity normalization
  * (F16), serialization contracts (F21), filter gates (P1/P2),
  * windowed mention counts (A5), transfer windows (A7), concentration
  * ratios (A11).
  *
  * Order-preserving dedup note: DuckDB's `list_distinct` does NOT keep
  * first-occurrence order, so both engines dedup positionally —
  * keep x at index i iff the first occurrence of x is at i.
  */
object CoverageQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // J6/F18/R5: card assembly from event base + enrichment lookups.
    "q_j6_card_build" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .select(
          concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
            .as("event_key"),
          upper(col("event_type")).as("symbol"),
          when(col("k") % 3 === 0, concat(lit("T"), col("k"))).as("topic_hash"),
          when(col("user_id") % 2 === 0, "strong").otherwise("weak")
            .as("source_level"),
          expr("ts_ns div 1000").as("event_us"),
          col("event_id"), col("user_id"), col("value"))
      val goplus = e.filter(col("event_id") % 4 =!= 1).select(col("event_key"),
        when(col("user_id") % 5 === 0, "red")
          .when(col("user_id") % 5 === 1, "yellow")
          .otherwise("green").as("goplus_risk"),
        (col("event_us") - 1000).as("goplus_us"))
      val dex = e.filter(col("event_id") % 5 =!= 2).select(col("event_key"),
        col("value").as("dex_liquidity"), (col("event_us") - 2000).as("dex_us"))
      val rules = e.filter(col("event_id") % 6 =!= 3).select(col("event_key"),
        when(col("value") >= 150, "opportunity")
          .when(col("value") < 30, "caution")
          .otherwise("observe").as("rules_level"))
      Cards.build(e, goplus, dex, rules)
        .withColumn("valid",
          Cards.isValid(col("event_key"), col("summary"), col("risk_note")))
        .orderBy("event_key")
    }),

    // J6 full document: nested card JSON (data.{goplus,dex,onchain,
    // rules} + evidence[] + meta) rendered via to_json and validated
    // against the cards.schema.json bounds. The oracle rebuilds the
    // byte-identical JSON string by concatenation, so the hash compare
    // pins section presence/omission, enum guards, reason capping,
    // decimal serialization, %.6g summary formatting, and the oldest-
    // source data_as_of rule (reference api/cards/build.py:462-602).
    "q_j6_card_doc" -> ((s, dir) => {
      // pre-partitioned on the join key: SIX frames derive from this
      // scan and all carry the IDENTICAL exchange subplan, which Spark
      // dedups via ReusedExchange — the scan+shuffle runs once and the
      // five left joins are co-partitioned (sorts only, no extra
      // exchanges, nothing collected to the driver)
      val e = Tables.load(s, dir, "events").select(
        concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
          .as("event_key"),
        upper(col("event_type")).as("symbol"),
        expr("ts_ns div 1000").as("event_us"),
        col("event_id"), col("user_id"), col("value"))
        // explicit partition count (AQE honors user-specified N, so
        // byte-based coalescing cannot fold this compute-heavy but
        // byte-tiny shuffle back to ~3 tasks — guide §2.2/§2.5);
        // derived from the session, not a local[32] constant
        .repartition(s.sparkContext.defaultParallelism, col("event_key"))
      val goplus = e.filter(col("event_id") % 4 =!= 1).select(
        col("event_key"),
        when(col("user_id") % 5 === 0, "red")
          .when(col("user_id") % 5 === 1, "yellow")
          .when(col("user_id") % 5 === 2, "green")
          .when(col("user_id") % 5 === 3, "gray")
          .otherwise("hacked").as("risk"), // invalid → enum guard
        when(col("user_id") % 3 === 0, "goplus:batch").as("risk_source"),
        when(col("user_id") % 2 === 0,
          ((col("user_id") % 100).cast("double") / 1000.0).cast("decimal(6,4)"))
          .as("tax_buy"),
        when(col("user_id") % 2 === 1,
          ((col("user_id") % 97).cast("double") / 1000.0).cast("decimal(6,4)"))
          .as("tax_sell"),
        when(col("event_id") % 3 === 0, col("user_id") % 2 === 0).as("lp_locked"),
        when(col("event_id") % 2 === 0, col("user_id") % 5 === 0).as("honeypot"),
        (col("event_us") - 1000000L).as("goplus_us"))
      val dex = e.filter(col("event_id") % 5 =!= 2).select(
        col("event_key"),
        ((col("event_id") % 99991).cast("double") / 100.0)
          .cast("decimal(18,2)").as("price_usd"),
        ((col("user_id") * 137 % 900000).cast("double") + 0.25)
          .cast("decimal(18,2)").as("liquidity_usd"),
        when(col("event_id") % 7 =!= 5,
          ((col("user_id") * 137 % 900000).cast("double") * 10.0 + 2.5)
            .cast("decimal(18,2)")).as("fdv"),
        when(col("event_id") % 2 === 0, struct(
          ((col("event_id") % 500).cast("double") / 10.0)
            .cast("decimal(18,2)").as("open"),
          ((col("event_id") % 500).cast("double") / 10.0 + 5.0)
            .cast("decimal(18,2)").as("high"),
          ((col("event_id") % 500).cast("double") / 10.0 - 2.5)
            .cast("decimal(18,2)").as("low"),
          ((col("event_id") % 500).cast("double") / 10.0 + 1.25)
            .cast("decimal(18,2)").as("close"),
          date_format(timestamp_micros(col("event_us") - 2000000L),
            "yyyy-MM-dd'T'HH:mm:ss'Z'").as("ts"))).as("ohlc_m5"),
        (col("event_us") - 2000000L).as("dex_us"))
      val onchain = e.filter(col("user_id") % 7 =!= 4).select(
        col("event_key"),
        struct(
          ((col("user_id") % 100).cast("double") / 100.0)
            .cast("decimal(6,4)").as("active_addr_pctl"),
          ((col("event_id") % 200).cast("double") / 100.0 - 1.0)
            .cast("decimal(8,4)").as("growth_ratio"),
          ((col("user_id") % 80).cast("double") / 100.0)
            .cast("decimal(6,4)").as("top10_share"),
          ((col("event_id") % 30).cast("double") / 1000.0)
            .cast("decimal(6,4)").as("self_loop_ratio")).as("features_snapshot"),
        when(col("user_id") % 2 === 0, "strong").otherwise("weak")
          .as("source_level"),
        (col("event_us") - 1500000L).as("onchain_us"))
      val rules = e.filter(col("event_id") % 6 =!= 3).select(
        col("event_key"),
        when(col("value") >= 150, "risk")
          .when(col("value") >= 100, "caution")
          .when(col("value") >= 50, "watch")
          .when(col("value") >= 20, "none")
          .otherwise("observe").as("level"), // invalid → enum guard
        ((col("event_id") % 2000).cast("double") / 100.0)
          .cast("decimal(18,2)").as("score"),
        when(col("event_id") % 2 === 0, array_compact(array(
          concat(lit("R"), (col("event_id") % 5).cast("string")),
          lit("volume_spike"),
          when(col("event_id") % 10 === 0, lit("liq_drop")),
          when(col("event_id") % 10 === 0, lit("overflow_reason")))))
          .as("reasons"), // 4 entries when %10==0 → [:3] cap exercised
        when(col("event_id") % 3 === 0, array(lit("a1"), lit("a2")))
          .as("all_reasons"),
        (col("event_us") - 3000000L).as("rules_us"))
      val evidence = e.filter(col("event_id") % 8 =!= 7).select(
        col("event_key"),
        array_compact(array(
          struct(
            concat(lit("x_post_"), (col("event_id") % 3).cast("string")).as("type"),
            concat(lit("seen "), col("symbol"), lit(" by U"),
              col("user_id").cast("string")).as("desc"),
            when(col("event_id") % 2 === 0,
              concat(lit("https://etherscan.io/tx/0x"),
                lpad(col("event_id").cast("string"), 8, "0"))).as("url")),
          when(col("event_id") % 3 === 0, struct(
            lit("onchain_verification_channel_extended_name").as("type"),
            lit("pool snapshot with extended diagnostics").as("desc"),
            lit(null).cast("string").as("url"))))).as("evidence"))
      Cards.buildDocument(e, goplus, dex, onchain, rules, evidence)
        .orderBy("event_key")
    }),

    // J6 channel render: the final per-type Telegram Markdown string a
    // push consumer sees (reference api/cards/render_pipeline.py:74-132
    // + the four templates/cards .tg.j2 files), as pure concat/when
    // chains over a context derived from events with integer rules —
    // CardRender.deriveContext is the same derivation
    // tools/render_goldens.py renders through the REAL Jinja templates
    // (CardRenderSpec pins byte equality), and the oracle re-assembles
    // the string in DuckDB, so the hash compare pins header routing,
    // the SOL-green guardrail, %.6f/%.2f/%.1f C-semantics formatting,
    // {:,.0f} grouping, list caps, and every Jinja whitespace quirk.
    // Map-side only: zero joins, zero shuffles before the gate's sort.
    "q_j6_card_render" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
          .as("event_key"),
        col("event_id").as("E"), col("user_id").as("U"),
        get_json_object(col("props"), "$.k").cast("long").as("K"),
        col("event_type"),
        date_format(timestamp_micros(expr("ts_ns div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("data_as_of"))
      // guide §2.5: unsplittable single-row-group scan → the whole
      // render otherwise runs as ONE task; fan the narrow context out
      graft.operators.CardRender.renderTg(
        graft.operators.CardRender.applyGuardrail(
          graft.operators.CardRender.deriveContext(ScaleOps.fanOut(e))))
        .select("event_key", "card_type", "render_tg")
        .orderBy("event_key")
    }),

    // J6 ui-channel render: the SECOND render channel a card consumer
    // hits — HTML via the four .ui.j2 templates under the AUTOESCAPING
    // _env_ui environment (reference api/cards/render_pipeline.py:45,
    // 49-66; primary and secondary templates are byte-identical). Same
    // integer-rule context as the tg gate plus ui-only wrinkles that
    // plant HTML-escapable characters and the cache/dex footer keys,
    // so the hash compare pins markupsafe escaping, the degraded-
    // render fallback (primary card with no contract address), Jinja
    // dict truthiness of token_info, and every untrimmed-tag
    // whitespace run. The static HTML is folded from the SAME segment
    // resources on both engines (CardRenderUi.render / .oracleExpr).
    // Map-side only: zero joins, zero shuffles before the gate's sort.
    "q_j6_card_render_ui" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
          .as("event_key"),
        col("event_id").as("E"), col("user_id").as("U"),
        get_json_object(col("props"), "$.k").cast("long").as("K"),
        col("event_type"),
        date_format(timestamp_micros(expr("ts_ns div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("data_as_of"))
      graft.operators.CardRenderUi.renderUi(
        graft.operators.CardRenderUi.uiWrinkle(
          graft.operators.CardRender.applyGuardrail(
            graft.operators.CardRender.deriveContext(ScaleOps.fanOut(e)))))
        .select("event_key", "card_type", "render_ui")
        .orderBy("event_key")
    }),

    // J6 pushcard envelope: the LEGACY wire shape a push consumer
    // receives — to_pushcard's struct re-nesting over (card context +
    // tg render), then the pushcard.schema.json check the pipeline
    // runs before enqueueing (reference api/cards/transformers.py:
    // 10-77, render_pipeline.py:272-296). The envelope mirrors the
    // reference's real quirks (top-level metric reads → nulls,
    // ohlc {}, extra event_key/rendered keys), so EVERY envelope
    // fails validation and degrade flips true — the violation list is
    // the per-row fingerprint the oracle re-derives analytically
    // (root additionalProperties in doc order, schema-order descent,
    // per-key required). Map-side, zero shuffles.
    "q_j6_pushcard" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events").select(
        concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
          .as("event_key"),
        col("event_id").as("E"), col("user_id").as("U"),
        get_json_object(col("props"), "$.k").cast("long").as("K"),
        col("event_type"),
        date_format(timestamp_micros(expr("ts_ns div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss'Z'").as("data_as_of"))
      graft.operators.Pushcard.envelope(
        graft.operators.CardRender.renderTg(
          graft.operators.CardRender.applyGuardrail(
            graft.operators.CardRender.deriveContext(ScaleOps.fanOut(e)))))
        .select("event_key", "card_type", "pushcard_json", "schema_ok",
          "violations_str", "degrade_final")
        .orderBy("event_key")
    }),

    // P6+ card schema conformance (reference api/cards/build.py:578-583
    // validates every card doc against schemas/cards.schema.json before
    // render): the Draft-7-subset validator (expressions/JsonSchema
    // .scala) runs over card JSON documents with PLANTED violations —
    // eight fixture classes (valid / missing-required / bad-enum /
    // out-of-range+short-string / array-cap+item-length / bad-pattern /
    // additionalProperties+const / nested-required) — and surfaces the
    // verdict as schema_ok + a deterministic `path: keyword` violation
    // string the oracle re-derives per class. Map-side, codegen'd.
    "q_p6_schema_validate" -> ((s, dir) => {
      import graft.expressions.{GraftFunctions, JsonSchema}
      val e = ScaleOps.fanOut(Tables.load(s, dir, "events").select(
        concat(lit("EV:"), lpad(col("event_id").cast("string"), 8, "0"))
          .as("event_key"),
        col("event_id").as("E"),
        (col("event_id") % 8).as("cls")))
      val cls = col("cls")
      val doc = to_json(struct(
        when(cls === 2, "market_risk")
          .otherwise(element_at(
            array(lit("primary"), lit("secondary"), lit("topic")),
            (col("E") % 3 + 1).cast("int"))).as("card_type"),
        when(cls === 5, lower(col("event_key"))).otherwise(col("event_key"))
          .as("event_key"),
        struct(
          struct(
            lit("green").as("risk"),
            when(cls === 3, 1.5).otherwise(0.25).as("tax_buy"),
            lit("GoPlus@v1.0").as("risk_source"),
            when(cls === 6, true).as("extra_flag")).as("goplus"),
          struct(
            (col("E") % 1000).cast("double").divide(10.0).as("price_usd"),
            (col("E") % 500).cast("double").as("liquidity_usd")).as("dex"),
          struct(
            lit("watch").as("level"),
            lit(55.5).as("score"),
            when(cls === 4, array(lit("a"), lit("b"), lit("c"),
              repeat(lit("x"), 121))).otherwise(array(lit("a"), lit("b")))
              .as("reasons")).as("rules")).as("data"),
        when(cls === 3, "abc")
          .otherwise(concat(lit("summary-"), col("E").cast("string")))
          .as("summary"),
        concat(lit("note-"), col("E").cast("string")).as("risk_note"),
        array(struct(
          lit("x_post").as("type"),
          when(cls =!= 7, "d1").as("desc"))).as("evidence"),
        struct(
          when(cls === 6, "cards@18.0").otherwise("cards@19.0").as("version"),
          lit("2024-01-15T10:30:00Z").as("data_as_of"),
          when(cls =!= 1, "template").as("summary_backend")).as("meta")))
      e.select(col("event_key"),
          GraftFunctions.jsonSchemaValidate(doc, JsonSchema.cardsSchema)
            .as("violations"))
        .select(col("event_key"),
          (size(col("violations")) === 0).as("schema_ok"),
          array_join(col("violations"), "; ").as("violations_str"))
        .orderBy("event_key")
    }),

    // Perceptual image near-dedup (the multimodal face of the dedup
    // mandate): every doc becomes one of four planted variants of an
    // 8×8 block image — v0 BMP 16×16, v1 the SAME pattern as a PNG at
    // 24×24 (recompressed + resized duplicate), v2 one block flipped
    // (hamming-1 near-dup), v3 an unrelated pattern — the REAL
    // BMP/PNG decoders produce the rasters, aHash is computed from
    // the pixels with exact integer arithmetic, and the banded
    // 16-bit-hamming probe surfaces the pairs. Because 4×16-bit
    // banding is pigeonhole-exact for d ≤ 3, the banded output EQUALS
    // brute force — which is what the oracle computes from the
    // analytically-known pattern words (it never sees an image).
    "q_m_image_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(Fixtures.imageVariant))
        .toDF("media_id", "format", "bytes")
      val fps = Multimodal.imageHashes(media).toDF()
        .select(col("mediaId").as("doc_id"), col("aHash").as("fp"))
      graft.dedup.Dedup.hash64NearDupPairs(fps, maxDist = 3)
        .orderBy("ida", "idb")
    }),

    // Perceptual AUDIO near-dedup (the image gate's sibling): every
    // doc becomes one of four planted audio variants of a 65-block
    // amplitude ladder realizing the SAME pattern word — v0 WAV at
    // gain 1 / 4 samples-per-block, v1 the same ladder as FLAC at
    // gain 3 / 8 samples-per-block (re-encoded + re-gained + longer
    // duplicate), v2 one comparison flipped (hamming-1), v3 an
    // unrelated word — the REAL WAV/FLAC decoders produce the PCM,
    // the energy-profile delta-sign fingerprint is exact integer sum
    // comparison, and the same banded probe surfaces the pairs. The
    // fingerprint of a ladder IS its word at any gain/length, so the
    // oracle is the image gate's word algebra verbatim: brute-force
    // hamming over analytically-derived words (it never hears audio),
    // equal to the banded output by the d ≤ 3 pigeonhole.
    "q_m_audio_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, "wav", Fixtures.wavBytesOf(8000,
              Fixtures.ladderAmps(word, 1).flatMap(a => Array.fill(4)(a))))
            case 1 => (d, "flac",
              Fixtures.flacConstBytes(Fixtures.ladderAmps(word, 3), 8))
            case 2 => (d, "wav", Fixtures.wavBytesOf(8000,
              Fixtures.ladderAmps(word ^ (1L << (base % 60 + 2).toInt), 1)
                .flatMap(a => Array.fill(4)(a))))
            case _ => (d, "flac", Fixtures.flacConstBytes(
              Fixtures.ladderAmps(Fixtures.patternWord(base + 1000003L), 2),
              4))
          }
        })
        .toDF("media_id", "format", "bytes")
      val fps = Multimodal.audioFingerprints(media).toDF()
        .select(col("mediaId").as("doc_id"), col("fp"))
      graft.dedup.Dedup.hash64NearDupPairs(fps, maxDist = 3)
        .orderBy("ida", "idb")
    }),

    // Perceptual VIDEO near-dedup — the third face of the modality
    // matrix: each doc becomes one of four planted Y4M clips whose
    // TEMPORAL luminance profile is a 65-step constant-luma ladder
    // realizing the pattern word — v0 4×4 @24fps, 2 frames per step;
    // v1 the SAME ladder at 8×6 @30fps, gain ×2, 3 frames per step
    // (resized + re-timed + re-graded + longer duplicate); v2 one
    // comparison flipped; v3 unrelated — walked by the real Y4M
    // parser (every frame's plane extents validated) and reduced by
    // the same 65-block delta-sign scheme, feeding the same banded
    // probe. Ladder profile ⇒ fingerprint IS the word, so the oracle
    // is the shared word algebra once more (it never sees a frame).
    "q_m_video_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, Fixtures.y4mBytesOf(4, 4, 24,
              Fixtures.ladderAmps(word, 1).flatMap(a => Array.fill(2)(a))))
            case 1 => (d, Fixtures.y4mBytesOf(8, 6, 30,
              Fixtures.ladderAmps(word, 2).flatMap(a => Array.fill(3)(a))))
            case 2 => (d, Fixtures.y4mBytesOf(4, 4, 24,
              Fixtures.ladderAmps(word ^ (1L << (base % 60 + 2).toInt), 1)
                .flatMap(a => Array.fill(2)(a))))
            case _ => (d, Fixtures.y4mBytesOf(4, 2, 24,
              Fixtures.ladderAmps(Fixtures.patternWord(base + 1000003L), 3)
                .flatMap(a => Array.fill(2)(a))))
          }
        })
        .toDF("media_id", "bytes")
      val fps = Multimodal.videoFingerprints(media).toDF()
        .select(col("mediaId").as("doc_id"), col("fp"))
      graft.dedup.Dedup.hash64NearDupPairs(fps, maxDist = 3)
        .orderBy("ida", "idb")
    }),

    // Image quality battery — the multimodal face of the Gopher gate
    // family: dark / flat / clipped / resolution / aspect verdicts
    // from the REAL decoders' rasters, all exact integer arithmetic
    // (floored gray luma, cross-multiplied mean and variance gates).
    // Variants: v0 normal 40/200 block pattern, v1 24×24 constant 20
    // (dark AND flat — zero variance), v2 255/200 blocks (clipped
    // count = 4·bit_count, word-dependent), v3 a 48×4 constant-100
    // banner (aspect 12 > 3 AND min dim 4 < 8 — two gates trip). The
    // oracle re-derives every sum and verdict from the word algebra.
    "q_m_image_quality" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = graft.operators.ScaleOps
        .fanOut(docs(s, dir).select(col("doc_id"))).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, "bmp",
              Fixtures.bmpBytesOf(16, 16, Fixtures.blockPx(word, 2)))
            case 1 => (d, "png",
              Fixtures.pngBytesOf(24, 24, (_, _) => (20, 20, 20)))
            case 2 => (d, "bmp", Fixtures.bmpBytesOf(16, 16, (x, y) => {
              val i = (y / 2) * 8 + (x / 2)
              val v = if (((word >> i) & 1L) != 0L) 255 else 200
              (v, v, v)
            }))
            case _ => (d, "png",
              Fixtures.pngBytesOf(48, 4, (_, _) => (100, 100, 100)))
          }
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.imageQuality(media).toDF()
        .select(col("mediaId").as("doc_id"), col("w"), col("h"),
          col("lumaSum").as("luma_sum"), col("clipCount").as("clip_count"),
          col("dark"), col("flat"),
          col("resOk").as("res_ok"), col("aspectOk").as("aspect_ok"))
        .orderBy("doc_id")
    }),

    // Video quality battery — the image battery's clip sibling,
    // closing the quality family across modalities: dark (whole-clip
    // mean-luma floor), STATIC (temporal variance of per-frame means
    // below a floor — a still image re-encoded as video), resolution
    // + aspect bounds, minimum frame count. Variants: v0 a shifted
    // luma ladder (+60; varying, never dark), v1 constant-20 (dark
    // AND static), v2 constant-128 (static only), v3 a 10-frame 48×4
    // constant banner (short + aspect + resolution trip at once).
    // Per-frame floored means keep the oracle exact: constant frames
    // land on their own value, ladder frames on 63 + 3·bits.
    "q_m_video_quality" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Fixtures.ladderAmps(word, 3).map(_ + 60)
                .flatMap(a => Array.fill(2)(a))))
            case 1 => (d, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(80)(20)))
            case 2 => (d, Fixtures.y4mBytesOf(8, 8, 24, Array.fill(70)(128)))
            case _ => (d, Fixtures.y4mBytesOf(48, 4, 24, Array.fill(10)(100)))
          }
        })
        .toDF("media_id", "bytes")
      Multimodal.videoQuality(media).toDF()
        .select(col("mediaId").as("doc_id"), col("w"), col("h"),
          col("nFrames").as("n_frames"), col("meanSum").as("mean_sum"),
          col("mean2Sum").as("mean2_sum"), col("dark"),
          col("isStatic").as("is_static"), col("resOk").as("res_ok"),
          col("aspectOk").as("aspect_ok"),
          col("longEnough").as("long_enough"))
        .orderBy("doc_id")
    }),

    // Shot segmentation + keyframe — what a video pipeline actually
    // materializes from the cut list: each run between cuts becomes
    // one shot row with its span and its keyframe feature (first
    // frame's floored mean — the frame an embedding pass encodes).
    // Same fixtures as the boundary gate; the oracle builds shots by
    // lead()-chaining the word's set-bit boundary frames and reads
    // the keyframe mean from the ladder-step formula.
    "q_m_video_shots" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Fixtures.ladderAmps(word, 3).map(_ + 60)
                .flatMap(a => Array.fill(2)(a))))
            case 1 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(40)(128)))
            case 2 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(30)(50) ++ Array.fill(30)(180)))
            case _ => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(10)(100) ++ Array.fill(10)(30) ++
                Array.fill(10)(220)))
          }
        })
        .toDF("media_id", "bytes")
      Multimodal.videoShots(media).toDF()
        .select(col("mediaId").as("doc_id"), col("shotIdx").as("shot_idx"),
          col("startFrame").as("start_frame"),
          col("endFrame").as("end_frame"),
          col("nFrames").as("n_frames"), col("keyMean").as("key_mean"))
        .orderBy("doc_id", "shot_idx")
    }),

    // Multimodal sequence packing — the training-batch assembly step
    // for (image, text) records: each record costs text BPE tokens
    // PLUS vision-transformer patch tokens (⌈w/14⌉·⌈h/14⌉, the
    // ViT-patch grid), and best-fit-decreasing packs records into a
    // shared context budget per language stratum. Patch counts come
    // from the REAL decoder's dimensions (a mis-parsed header would
    // shift every bin), token counts from the real text; the packer
    // is the existing L51 BFD fold. Oracle: analytic dims → the same
    // combined cost → the same recursive-CTE BFD replay.
    "q_x_multimodal_pack" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val budget = 160L
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val w = (16 + (d % 3) * 12).toInt
          val h = (16 + (d % 2) * 12).toInt
          (d, "bmp", Fixtures.bmpBytesOf(w, h, (x, y) => {
            val v = ((d + x + 11 * y) % 256).toInt; (v, v, v)
          }))
        })
        .toDF("media_id", "format", "bytes")
      val patches = Multimodal.decodeMedia(media).toDF()
        .select(col("media_id").as("doc_id"),
          expr("((width + 13) div 14) * ((height + 13) div 14)")
            .as("n_patches"))
      val base = docs(s, dir).join(patches, "doc_id")
        .withColumn("n_cost",
          graft.text.TextAnalysis.tokenCountBpe(col("text")).cast("long")
            + col("n_patches"))
      graft.operators.Sampling
        .packBestFit(base, "doc_id", "lang", "n_cost", budget)
        .groupBy(col("lang"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum("n_cost").as("fill_cost"))
        .withColumn("pad_cost", lit(budget) - col("fill_cost"))
        .orderBy("lang", "pack_id")
    }),

    // Best-caption-per-image (the LAION-shaped multimodal record
    // curation step): when several (image, caption) records share a
    // near-duplicate image, keep ONE — the richest caption (most
    // whitespace tokens, ties → smaller id). The first gate that
    // mixes the modalities for real: image clusters come from the
    // perceptual-fingerprint machinery over planted bytes, the
    // ranking signal comes from the REAL document text. Per base the
    // three image variants cluster and the longest of their three
    // captions survives; the unrelated singleton keeps its own.
    "q_x_caption_select" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(Fixtures.imageVariant))
        .toDF("media_id", "format", "bytes")
      val fps = Multimodal.imageHashes(media).toDF()
        .select(col("mediaId").as("doc_id"), col("aHash").as("fp"))
      val pairs = graft.dedup.Dedup.hash64NearDupPairs(fps, maxDist = 3)
        .select(col("ida").as("a"), col("idb").as("b"))
      val labels = graft.dedup.Clusters.connectedComponents(
        fps.select(col("doc_id").as("id")), pairs)
      val captions = docs(s, dir).select(col("doc_id"),
        graft.text.TextAnalysis.tokenCountWs(col("text")).as("n_ws"))
      val labeled = captions
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id")
      graft.dedup.Clusters.keepBestPerCluster(labeled, "doc_id",
          "cluster_id", "n_ws")
        .select(col("doc_id"), col("cluster_id"),
          col("n_ws").cast("long").as("n_ws"), col("keep"))
        .orderBy("doc_id")
    }),

    // Silence-split audio segmentation (VAD first pass): maximal runs
    // of ACTIVE windows (peak |x| ≥ floor) become segment rows.
    // Variants: v0 word-driven — window i active iff bit i of the
    // word is set, so the segments ARE the word's maximal set-bit
    // runs (the oracle derives them with a gaps-and-islands window
    // chain over bit positions); v1 all-silent (zero rows — the drop
    // signal); v2 an all-active FLAC (one full-span segment through
    // the other decoder); v3 a fixed speech/silence/speech shape.
    "q_m_audio_segments" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, "wav", Fixtures.wavBytesOf(8000,
              Array.tabulate(64)(i =>
                if (((word >> i) & 1L) != 0L) 100 else 2)
                .flatMap(a => Array.fill(8)(a))))
            case 1 => (d, "wav", Fixtures.wavBytesOf(8000,
              Array.fill(512)(2)))
            case 2 => (d, "flac",
              Fixtures.flacConstBytes(Array.fill(64)(100), 8))
            case _ => (d, "wav", Fixtures.wavBytesOf(8000,
              (Array.fill(128)(100) ++ Array.fill(128)(2) ++
                Array.fill(256)(100))))
          }
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.audioSegments(media).toDF()
        .select(col("mediaId").as("doc_id"), col("segIdx").as("seg_idx"),
          col("startWindow").as("start_window"),
          col("endWindow").as("end_window"),
          col("nWindows").as("n_windows"))
        .orderBy("doc_id", "seg_idx")
    }),

    // Shot-boundary detection — TextTiling's video face: a hard cut
    // is a jump in the temporal luma profile; one row per boundary
    // with both sides' floored means. Variants: v0 the luma ladder
    // (a boundary at frame 2(i+1) for exactly the SET bits of the
    // word — the ladder steps 3 luma per set bit, ≥ the jump floor),
    // v1 a constant clip (zero rows), v2 a two-shot cut at frame 30,
    // v3 a three-shot clip with cuts at 10 and 20. The oracle emits
    // v0's boundary list straight from the word's set bits.
    "q_m_scene_changes" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Fixtures.ladderAmps(word, 3).map(_ + 60)
                .flatMap(a => Array.fill(2)(a))))
            case 1 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(40)(128)))
            case 2 => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(30)(50) ++ Array.fill(30)(180)))
            case _ => (d, Fixtures.y4mBytesOf(8, 8, 24,
              Array.fill(10)(100) ++ Array.fill(10)(30) ++
                Array.fill(10)(220)))
          }
        })
        .toDF("media_id", "bytes")
      Multimodal.sceneChanges(media).toDF()
        .select(col("mediaId").as("doc_id"), col("frameIdx").as("frame_idx"),
          col("prevMean").as("prev_mean"), col("nextMean").as("next_mean"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Fused media curation pipeline — the media face of L26's fused
    // text pass: ONE decode yields quality verdict + perceptual
    // fingerprint + pixel rank, then quality-filter → banded pairs →
    // CC → keep-best. The quality-first order is load-bearing: flat
    // fills all hash to aHash 0 (zero contrast), so the planted
    // constant-20 images would weld into one corpus-wide mega-cluster
    // and push the banded probe toward all-pairs on that key — the
    // gate drops them before the probe ever sees the degenerate key.
    // Output: every doc with (quality_ok, cluster_id, kept); dropped
    // docs carry cluster -1. Oracle: word-algebra quality verdicts
    // (the same cross-multiplied integer gates), brute-force pairs
    // over the passers, recursive-CTE CC, window keep-best.
    "q_m_media_pipeline" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val base = d / 4
          val word = Fixtures.patternWord(base)
          (d % 4) match {
            case 0 => (d, "bmp",
              Fixtures.bmpBytesOf(16, 16, Fixtures.blockPx(word, 2)))
            case 1 => (d, "png",
              Fixtures.pngBytesOf(24, 24, Fixtures.blockPx(word, 3)))
            case 2 => (d, "png",
              Fixtures.pngBytesOf(16, 16, (_, _) => (20, 20, 20)))
            case _ => (d, "bmp", Fixtures.bmpBytesOf(16, 16,
              Fixtures.blockPx(Fixtures.patternWord(base + 1000003L), 2)))
          }
        })
        .toDF("media_id", "format", "bytes")
      val cur = Multimodal.imageCurationPass(media).toDF()
        .select(col("mediaId").as("doc_id"), col("pixels"), col("fp"),
          col("qualityOk").as("quality_ok"))
        .localCheckpoint() // one decode pass feeds gate + probe + rank
      val passers = cur.filter(col("quality_ok"))
      val pairs = graft.dedup.Dedup.hash64NearDupPairs(
          passers.select("doc_id", "fp"), maxDist = 3)
        .select(col("ida").as("a"), col("idb").as("b"))
      val labels = graft.dedup.Clusters.connectedComponents(
        passers.select(col("doc_id").as("id")), pairs)
      val kept = graft.dedup.Clusters.keepBestPerCluster(
          passers.join(labels.withColumnRenamed("id", "doc_id"), "doc_id"),
          "doc_id", "cluster_id", "pixels")
        .select(col("doc_id"), col("cluster_id"), col("keep"))
      cur.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_ok"),
          coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"),
          coalesce(col("keep"), lit(false)).as("kept"))
        .orderBy("doc_id")
    }),

    // EXIF metadata + GPS-PII scrub (the L21×L20 crossover): REAL
    // JPEGs carrying a REAL Exif APP1 (both TIFF byte orders, planted
    // per-id) are walked for orientation/timestamp/GPS, the GPS
    // sub-IFD is stripped by segment rebuild, and BOTH claims verify
    // in-row: the stripped bytes re-parse GPS-free, and the raster
    // decodes byte-identically (the splice never touches entropy
    // data). Fixture offsets are closed-form, so the oracle predicts
    // every surfaced tag AND both byte sizes analytically — a parser
    // that mis-walks any offset, or a stripper that disturbs one
    // byte of image data, hash-fails. Map-side, zero shuffles.
    "q_m_exif_pii" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = graft.operators.ScaleOps
        .fanOut(docs(s, dir).select(col("doc_id"))).as[Long]
        .mapPartitions(_.map(d => (d, Fixtures.exifJpegBytes(d))))
        .toDF("media_id", "bytes")
      Multimodal.exifPiiScan(media).toDF()
        .select(col("mediaId").as("doc_id"),
          col("orientation").cast("long").as("orientation"),
          col("dateTime").as("date_time"),
          col("hasGps").as("has_gps"),
          col("latRef").as("lat_ref"), col("latDeg").as("lat_deg"),
          col("latMin").as("lat_min"), col("latSec").as("lat_sec"),
          col("lonRef").as("lon_ref"), col("lonDeg").as("lon_deg"),
          col("lonMin").as("lon_min"), col("lonSec").as("lon_sec"),
          col("bytesBefore").as("bytes_before"),
          col("bytesAfter").as("bytes_after"),
          col("gpsGone").as("gps_gone"),
          col("rasterIntact").as("raster_intact"))
        .orderBy("doc_id")
    }),

    // Media quality drift (PSI over the decoded luma distribution) —
    // the image-source face of the L69 monitor: a drifting camera /
    // crawl source shows up as the per-asset mean-luma histogram
    // moving, measured by the SAME fixed-point PSI machinery the text
    // filter monitors scores with (ClassifierEval.scorePsi; score =
    // meanLuma/256, exact in double). Constant-gray fixtures make the
    // decoded mean luma BE the planted value (real BMP decode, luma
    // of (v,v,v) = v exactly), so the oracle re-derives bins and the
    // psi/ln fixed-point chain without seeing an image; the planted
    // +30 shift on the cur side pushes mass up-bin and into a bin the
    // reference never populated (the unseen-mass blind spot carried
    // as its own column downstream). Map-side decode + one ≤nBins
    // groupBy — the monitor's cost shape at any corpus size.
    "q_m_quality_psi" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val v0 = (20L + (d * 7L) % 200L).toInt
          val v = if (d % 2 == 1 && d % 3 == 0) math.min(255, v0 + 30)
            else v0
          (d, "bmp", Fixtures.bmpBytesOf(8, 8, (_, _) => (v, v, v)))
        })
        .toDF("media_id", "format", "bytes")
      val scored = Multimodal.imageCurationPass(media).toDF()
        .select(col("mediaId").as("doc_id"),
          (col("meanLuma") / lit(256.0)).as("score"))
        .localCheckpoint() // one decode feeds both sides' histograms
      graft.text.ClassifierEval.scorePsi(
          scored.filter(col("doc_id") % 2 === 0),
          scored.filter(col("doc_id") % 2 === 1), "score", nBins = 10)
        .orderBy("bin")
    }),

    // INCREMENTAL media dedup — the L40/L53 shape at the perceptual-
    // fingerprint layer, run through the REAL media ingest loop
    // (streaming/MediaIngest.scala): two batches of image assets flow
    // through decode-once → quality gate → banded probe against the
    // STORED fp index → ClusterMaintain merge, into the same
    // three-table batch-id-idempotent state the text loop uses; batch
    // 1 then REPLAYS (a durable no-op, proven because the read-back
    // still matches). The quarter slice (doc_id%4==2, re-indexed
    // j = doc_id div 4 so the variant algebra keeps its period)
    // carries the pipeline fixture: v0 bmp 16×16 + v1 png 24×24 of
    // the SAME pattern (a cross-batch near-dup pair whenever j%10
    // splits them), v2 flat (quality-rejected — never enters state),
    // v3 unrelated. Output = the canonical keep-best read of the
    // stored tables; oracle = from-scratch word-algebra CC over the
    // slice's quality passers — the convergence contract in SQL.
    "q_m_incremental_dedup" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      import graft.streaming.MediaIngest
      val media = docs(s, dir).filter(col("doc_id") % 4 === 2)
        .select(col("doc_id")).as[Long]
        .mapPartitions(_.map { d =>
          val j = d / 4
          val base = j / 4
          val word = Fixtures.patternWord(base)
          (j % 4) match {
            case 0 => (d, "bmp",
              Fixtures.bmpBytesOf(16, 16, Fixtures.blockPx(word, 2)))
            case 1 => (d, "png",
              Fixtures.pngBytesOf(24, 24, Fixtures.blockPx(word, 3)))
            case 2 => (d, "png",
              Fixtures.pngBytesOf(16, 16, (_, _) => (20, 20, 20)))
            case _ => (d, "bmp", Fixtures.bmpBytesOf(16, 16,
              Fixtures.blockPx(Fixtures.patternWord(base + 1000003L), 2)))
          }
        })
        .toDF("media_id", "format", "bytes")
      val b0 = media.filter(expr("media_id div 4") % 10 =!= 0)
      val b1 = media.filter(expr("media_id div 4") % 10 === 0)
      val src = new java.io.File(graft.Tables.path(dir, "documents"))
      val state = graft.Sessions.perRunScratch("media_ingest",
        src.getParentFile.getName)
      MediaIngest.processBatch(b0, 0L, state, 3)
      MediaIngest.processBatch(b1, 1L, state, 3)
      MediaIngest.processBatch(b1, 1L, state, 3) // replay → no-op
      MediaIngest.canonical(s, state)
        .select("doc_id", "cluster_id", "cluster_size", "pixels", "keep")
        .orderBy("doc_id")
    }),

    // Canonical media selection — the step AFTER near-dup pairing
    // that a real asset store runs: pairs → connected components →
    // keep each cluster's best member, where "best" for media is the
    // highest-RESOLUTION copy (max pixels, ties → smaller id), the
    // media face of L38's keep-best-per-cluster (which keys on text
    // quality). Composes the existing machinery end to end over real
    // image bytes: imageHashes (real decoders) → banded hamming → CC
    // → keep-best; per base the 24×24 PNG re-encode wins
    // over the two 16×16 variants, the unrelated singleton keeps
    // itself. Oracle: word-algebra fingerprints, brute-force pairs,
    // recursive-CTE CC, window keep-best — it never sees an image.
    "q_m_media_canonical" -> ((s, dir) => {
      import s.implicits._
      import graft.multimodal.Multimodal.Fixtures
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(Fixtures.imageVariant))
        .toDF("media_id", "format", "bytes")
      val hashes = Multimodal.imageHashes(media).toDF()
        .select(col("mediaId").as("doc_id"), col("aHash").as("fp"),
          (col("w") * col("h")).as("pixels"))
        .localCheckpoint() // one decode pass feeds probe + labels
      val pairs = graft.dedup.Dedup.hash64NearDupPairs(
          hashes.select("doc_id", "fp"), maxDist = 3)
        .select(col("ida").as("a"), col("idb").as("b"))
      val labels = graft.dedup.Clusters.connectedComponents(
        hashes.select(col("doc_id").as("id")), pairs)
      val labeled = hashes
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id")
      graft.dedup.Clusters.keepBestPerCluster(labeled, "doc_id",
          "cluster_id", "pixels")
        .select(col("doc_id"), col("cluster_id"), col("pixels"), col("keep"))
        .orderBy("doc_id")
    }),

    // Multimodal: stubbed decode over binary columns via mapPartitions.
    "q_m_media_features" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.synthesize(docs(s, dir))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .select(col("mediaId").as("media_id"), col("kind"),
          col("nBytes").cast("long").as("n_bytes"),
          col("contentSha").as("content_sha"),
          Parity.roundHalfUp(col("meanLuma"), 6).as("mean_luma"),
          col("frameCount").cast("long").as("frame_count"))
        .orderBy("media_id")
    }),

    // Multimodal, REAL decode (round-10 stretch; PNG added round 11):
    // genuine BMP, WAV and PNG bytes are synthesized per doc (real
    // headers, bottom-up padded pixel rows, RIFF chunk list, CRC'd
    // PNG chunks over a zlib stream with per-row filters cycling all
    // five types), then parsed by the pure-JVM decoders inside the
    // same mapPartitions slot the stub occupied — the PNG path runs a
    // REAL Inflater and the full scanline reconstruction. The oracle
    // predicts the DECODED features (dimensions, weighted mean luma,
    // sample count/duration/mean amplitude) analytically from the
    // id — the decoder only ever sees file bytes, so a wrong offset,
    // padding, row order, chunk walk, or filter predictor hash-fails.
    "q_m_media_decode" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          (id % 3) match {
            case 0 => (id, "bmp", Multimodal.Fixtures.bmpBytes(id))
            case 1 => (id, "wav", Multimodal.Fixtures.wavBytes(id))
            case _ => (id, "png", Multimodal.Fixtures.pngBytes(id))
          }
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.decodeMedia(media).toDF().orderBy("media_id")
    }),

    // Multimodal, REAL JPEG decode (round 11 — the first format whose
    // entropy coder is hand-rolled: no JVM built-in covers Huffman +
    // DCT, so the decoder implements the full baseline stack from
    // ITU T.81). Genuine baseline grayscale JPEGs are synthesized per
    // doc — real marker segments, encoder-chosen canonical Huffman
    // tables, DRI=1 restart intervals, one block carrying a REAL AC
    // coefficient whose clamped IDCT contribution shifts the mean —
    // then parsed by the pure-JVM decoder in the same mapPartitions
    // slot. The oracle predicts file size, dimensions, and mean luma
    // analytically from the id: a wrong Huffman table build, restart
    // handling, dequant, zigzag placement, or IDCT hash-fails.
    "q_m_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, "jpg", Multimodal.Fixtures.jpegBytes(id))))
        .toDF("media_id", "format", "bytes")
      Multimodal.decodeMedia(media).toDF().orderBy("media_id")
    }),

    // Multimodal, REAL COLOR JPEG decode (round 11): genuine 4:2:0
    // baseline YCbCr JPEGs — interleaved MCUs of four Y blocks plus
    // subsampled Cb/Cr, per-component quant and Huffman tables,
    // DRI=1 restart intervals, a negative chroma DC (the complement
    // EXTEND path), the clamped-AC Y block last — decoded through
    // the full stack plus box-replicated chroma upsampling and the
    // BT.601 EXACT fixed-point YCbCr→RGB (libjpeg's integer
    // constants). The oracle re-derives every RGB value analytically
    // through the same integer shifts: a wrong MCU interleave, DC
    // predictor, upsample mapping, or conversion constant hash-fails.
    "q_m_jpeg_color" -> ((s, dir) => {
      import s.implicits._
      val media = graft.operators.ScaleOps
        .fanOut(docs(s, dir).select(col("doc_id"))).as[Long]
        .mapPartitions(_.map(id =>
          (id, "jpg", Multimodal.Fixtures.jpegColorBytes(id))))
        .toDF("media_id", "format", "bytes")
      Multimodal.decodeMedia(media).toDF().orderBy("media_id")
    }),

    // Multimodal, REAL FLAC decode (round 12 — retires the MP3 audio
    // stand-in; the audio-codec slot now holds a genuine
    // compressed-audio decoder, hand-rolled from the public xiph.org
    // spec). Genuine fixed-predictor FLAC streams are synthesized per
    // doc — rice-coded residuals, CRC-8 frame-header and CRC-16
    // whole-frame checksums, UTF-8 frame numbers, four frames
    // covering CONSTANT / FIXED(1) / VERBATIM / FIXED(2) subframes —
    // then decoded by the pure-JVM decoder in the same mapPartitions
    // slot as every other format. The oracle predicts file size
    // (closed form: only frame 1's rice quotient varies), sample
    // count, duration, and mean |amplitude| analytically from the
    // id: a wrong rice parameter walk, zigzag fold, predictor
    // reconstruction, or two's-complement read hash-fails.
    "q_m_flac_decode" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, "flac", Multimodal.Fixtures.flacBytes(id))))
        .toDF("media_id", "format", "bytes")
      Multimodal.decodeMedia(media).toDF().orderBy("media_id")
    }),

    // Multimodal FORMAT SNIFFING (round 12): the real-world ingest
    // case — the binary column arrives with NO trusted format label,
    // so each row's format is detected from magic bytes and dispatched
    // to its decoder. Five formats interleaved by id; the gate output
    // is the detected format + the decoded byte count, both
    // closed-form from the id.
    "q_m_sniff_decode" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          val bytes = (id % 5) match {
            case 0 => Multimodal.Fixtures.bmpBytes(id)
            case 1 => Multimodal.Fixtures.wavBytes(id)
            case 2 => Multimodal.Fixtures.pngBytes(id)
            case 3 => Multimodal.Fixtures.jpegBytes(id)
            case _ => Multimodal.Fixtures.flacBytes(id)
          }
          (id, bytes)
        })
        .toDF("media_id", "bytes")
      Multimodal.decodeMediaAuto(media).toDF()
        .select("media_id", "format", "n_bytes")
        .orderBy("media_id")
    }),

    // Multimodal AUDIO FEATURIZATION (round 12): window-level features
    // over DECODED samples — exact integer energy Σx², zero-crossing
    // count, peak |x| per non-overlapping 32-sample window — the
    // silence/clipping/activity filters an audio curation pipeline
    // thresholds on, computed over a WAV/FLAC mix so both sample
    // paths (raw PCM chunk walk, rice-decoded fixed-predictor
    // reconstruction) feed the same featurizer. Oracle unrolls the
    // fixtures' closed-form samples per window in SQL.
    "q_m_audio_features" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) (id, "wav", Multimodal.Fixtures.wavBytes(id))
          else (id, "flac", Multimodal.Fixtures.flacBytes(id))
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.audioFeatures(media, window = 32).toDF()
        .orderBy("media_id", "window_idx")
    }),

    // Multimodal AUDIO RESAMPLE (round 12): integer block-mean
    // decimation by 8 over decoded WAV/FLAC — the audio analogue of
    // the image box-filter resize — then the decode family's summary
    // at the reduced rate. Block means are floor divisions of exact
    // integer sums (Math.floorDiv mirrored in SQL via the
    // make-divisible identity), so the oracle is hash-exact even on
    // negative blocks.
    "q_m_audio_resample" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map { id =>
          if (id % 2 == 0) (id, "wav", Multimodal.Fixtures.wavBytes(id))
          else (id, "flac", Multimodal.Fixtures.flacBytes(id))
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.resampleAudio(media, factor = 8).toDF()
        .orderBy("media_id")
    }),

    // Multimodal: frame-sampling plumbing (video rows, 5s cadence).
    "q_m_frame_sample" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.synthesize(docs(s, dir)).as[Multimodal.MediaRow]
      Multimodal.sampleFrames(media, everyMs = 5000)
        .select(col("mediaId").as("media_id"), col("frame_ms"),
          col("frame_idx"))
        .orderBy("media_id", "frame_ms")
    }),

    // Multimodal, REAL frame-sample (round 11 — completes the
    // decode/feature/resize/frame-sample verb list): genuine
    // YUV4MPEG2 containers are synthesized per doc (ASCII stream
    // header, per-frame FRAME marker lines, Y+U+V 4:2:0 planes), then
    // WALKED by the pure-JVM parser — every 2nd frame sampled to its
    // mean-Y, timestamped from the container's own F tag. The oracle
    // predicts the sampled frames analytically from the id; chroma
    // planes carry non-luma bytes so a mis-sized 4:2:0 skip lands on
    // wrong luma for the next sampled frame and hash-fails.
    "q_m_video_frames" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.Fixtures.y4mBytes(id))))
        .toDF("media_id", "bytes")
      Multimodal.sampleVideoFrames(media, everyN = 2).toDF()
        .orderBy("media_id", "frame_idx")
    }),

    // Multimodal, REAL resize (round 11): decode the genuine BMP/PNG
    // fixtures through the real parsers, integer box-filter downscale
    // by 2 (edge blocks average their actual extent — no
    // divisibility precondition), then the shared luma summary over
    // the RESIZED pixels. The oracle re-derives the block floor-means
    // from the pixel formula — a resize that mis-addresses blocks,
    // mixes channels, or rounds instead of flooring hash-fails.
    "q_m_media_resize" -> ((s, dir) => {
      import s.implicits._
      val media = docs(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.flatMap { id =>
          (id % 3) match {
            case 0 => Some((id, "bmp", Multimodal.Fixtures.bmpBytes(id)))
            case 1 => None // audio rows have no resize
            case _ => Some((id, "png", Multimodal.Fixtures.pngBytes(id)))
          }
        })
        .toDF("media_id", "format", "bytes")
      Multimodal.resizeMedia(media, factor = 2).toDF()
        .orderBy("media_id")
    }),

    // F7: keyword priority ordering — $tokens first, then 2-3 char
    // words, then the rest; order-preserving dedup; top-5
    // (reference api/events.py:244-310). Runs as the codegen'd
    // KeywordPriority kernel: the three-filter + positional-dedup HOF
    // formulation interpreted per element (re-splitting per element,
    // O(n²) array_position dedup) and was the slowest query in the
    // first full-evaluation bench.
    "q_f7_keywords_priority" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("post",
        concat(lit("$"), upper(col("source")), lit(" "), col("text")))
      d.select(col("doc_id"),
          graft.expressions.ShingleFunctions
            .keywordPriority(col("post"), 5).as("keywords"))
        .orderBy("doc_id")
    }),

    // F4: token symbol canonical form over synthesized edge cases —
    // trim, lowercase, collapse leading '$'s to one, empty → null
    // (reference api/events.py:187-207).
    "q_f4_symbol_norm" -> ((s, dir) => {
      val raw = when(col("doc_id") % 5 === 0, upper(col("source")))
        .when(col("doc_id") % 5 === 1, concat(lit("$"), col("source")))
        .when(col("doc_id") % 5 === 2, concat(lit("$$"), upper(col("source"))))
        .when(col("doc_id") % 5 === 3, concat(lit("  "), col("source"), lit(" ")))
        .otherwise(lit(""))
      docs(s, dir).select(col("doc_id"), raw.as("raw_symbol"),
          graft.functions.TextFunctions.normalizeSymbol(raw).as("symbol_norm"))
        .orderBy("doc_id")
    }),

    // F13: rules keyphrases — `$word | letters{2,}` tokens, ordered
    // dedup, stopword filter, top-5 (reference api/keyphrases.py:80-90).
    "q_f13_keyphrases" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          array_join(graft.functions.TextFunctions.keyphrases(
            col("text"), TextAnalysis.Stopwords.head._2, 5), ",")
            .as("keyphrases"))
        .orderBy("doc_id")),

    // F15: memeable-topic confidence min(1, 0.3·n_entities) over the
    // keyphrase count (reference worker/pipeline/is_memeable_topic
    // .py:94-151), memeable at ≥ 0.6.
    "q_f15_memeable" -> ((s, dir) => {
      val n = size(graft.functions.TextFunctions.keyphrases(
        col("text"), TextAnalysis.Stopwords.head._2, 5))
      docs(s, dir).select(col("doc_id"), n.as("n_entities"),
          Parity.roundHalfUp(
            graft.functions.TextFunctions.memeableConfidence(n), 4)
            .as("confidence"),
          (graft.functions.TextFunctions.memeableConfidence(n) >= 0.6)
            .as("is_memeable"))
        .orderBy("doc_id")
    }),

    // F16: entity normalization — synonym map, stop-term removal,
    // order-preserving dedup (reference api/services/topic_analyzer
    // .py:17-69).
    // One codegen'd kernel: the HOF composition (slice → transform →
    // filter → positional dedup) nests four interpreted lambdas that
    // re-evaluate their child chain per element (measured 1.6 s for
    // 5 000 rows at sf0.1; kernel ≈0.3 s).
    "q_f16_entity_norm" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
          graft.expressions.ShingleFunctions.entityNorm(col("text"),
            Seq("spark" -> "apache", "join" -> "merge", "dup" -> "duplicate"),
            Seq("the", "a"), k = 8).as("entities"))
        .orderBy("doc_id")),

    // F21: serialization contracts — DECIMAL 3dp HALF_UP via exact
    // decimal arithmetic, UTC ISO-8601 Z timestamps (reference
    // api/routes/signals_summary.py:42-57).
    "q_f21_serialization" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          // serialized as string: a DECIMAL output column reaches the
          // compare as Decimal-vs-float and can never hash-match
          (col("o_orderkey").cast("decimal(14,4)") / 16)
            .cast("decimal(14,3)").cast("string").as("amount_3dp"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss'Z'")
            .as("iso_ts"))
        .orderBy("o_orderkey")
    }),

    // P1/P2: crypto-keyword gate, negation filter, candidate pass
    // (reference api/filter.py:35-117).
    "q_p1_filter_gates" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("post",
        concat(lit("$"), upper(col("source")), lit(" "), col("text"),
          when(col("doc_id") % 5 === 0, " launch")
            .when(col("doc_id") % 5 === 1, " rug pull")
            .otherwise("")))
      val kwHit = Seq("launch", "mint", "airdrop")
        .map(k => lower(col("post")).contains(k)).reduce(_ || _)
      val symHit = col("post").rlike("\\$[A-Z]{2,10}")
      val negHit = Seq("rug", "scam")
        .map(k => lower(col("post")).contains(k)).reduce(_ || _)
      d.select(col("doc_id"), kwHit.as("kw_hit"), symHit.as("sym_hit"),
          negHit.as("neg_hit"),
          ((kwHit || symHit) && !negHit).as("passes"))
        .orderBy("doc_id")
    }),

    // A5: mention count within 24h of the corpus max event time.
    // The scalar max travels via broadcast cross join — an
    // unpartitioned window would funnel the whole table through ONE
    // task just to compute one number.
    "q_a5_mention_24h" -> ((s, dir) => {
      val e = Tables.load(s, dir, "events")
        .withColumn("us", expr("ts_ns div 1000"))
      val mx = e.agg(max("us").as("mx"))
      e.crossJoin(broadcast(mx))
        .filter(col("us") >= col("mx") - lit(86400L * 1000000L))
        .groupBy("event_type").agg(count(lit(1)).as("mentions"))
        .orderBy("event_type")
    }),

    // A7: token-transfers window — two exact distincts per key
    // (reference templates/sql/eth/token_transfers_window.sql:6-15).
    "q_a7_transfers_window" -> ((s, dir) => {
      Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .groupBy("l_partkey")
        .agg(count(lit(1)).as("transfers"),
          countDistinct("l_suppkey").as("uniq_from"),
          countDistinct("l_orderkey").as("uniq_to"),
          date_format(max("l_shipdate"), "yyyy-MM-dd").as("max_day"))
        .orderBy("l_partkey")
    }),

    // A11: concentration + self-loop ratios (reference
    // bq_provider.py:838-852 semantics).
    "q_a11_concentration" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val bySupp = li.groupBy("l_partkey", "l_suppkey")
        .agg(sum("l_quantity").as("sq"))
      val conc = bySupp.groupBy("l_partkey")
        .agg(Parity.roundHalfUp(max("sq") / sum("sq"), 6).as("top1_share"))
      val loops = li.groupBy("l_partkey")
        .agg(Parity.roundHalfUp(
          avg(when(col("l_suppkey") % 7 === col("l_linenumber") % 7, 1.0)
            .otherwise(0.0)), 6).as("self_loop_ratio"))
      conc.join(loops, "l_partkey").orderBy("l_partkey")
    })
  )

  private def sqlList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("[", ", ", "]")

  /** One resized channel in the `q_m_media_resize` oracle: the
    * factor-2 block's floor-mean of the pixel formula `chExpr` (a
    * function of media_id, x, y), with edge blocks clamped to their
    * actual extent — `//` on non-negative BIGINTs mirrors the
    * decoder's integer truncation exactly.
    */
  private def blockMean(chExpr: String): String =
    s"""(list_sum(flatten(list_transform(range(by*2, least(h, by*2+2)), y ->
                  list_transform(range(bx*2, least(w, bx*2+2)), x -> $chExpr))))
                // ((least(h, by*2+2) - by*2) * (least(w, bx*2+2) - bx*2)))"""

  // analytic mirror of decode→box-filter→luma over the BMP and PNG
  // fixtures: per output pixel, three per-channel block floor-means
  // recombined by the shared luma weights
  private def resizeOracle: String =
    s"""WITH b AS (
         SELECT doc_id AS media_id, 'bmp' AS format,
                CAST(4 + doc_id % 5 AS BIGINT) AS w,
                CAST(3 + doc_id % 4 AS BIGINT) AS h
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, 'png',
                CAST(5 + doc_id % 4 AS BIGINT),
                CAST(4 + doc_id % 3 AS BIGINT)
         FROM documents WHERE doc_id % 3 = 2),
       r AS (
         SELECT media_id, format, w, h,
                (w + 1) // 2 AS ow, (h + 1) // 2 AS oh,
                list_sum(flatten(list_transform(range((h + 1) // 2), by ->
                  list_transform(range((w + 1) // 2), bx ->
                      299 * ${blockMean("(media_id + x + 11*y) % 256")}
                    + 587 * ${blockMean("(media_id + 5*x + y) % 256")}
                    + 114 * ${blockMean("(media_id + 3*x + 7*y) % 256")})))) AS lsum
         FROM b)
       SELECT media_id, format, w AS src_width, h AS src_height,
              ow AS out_width, oh AS out_height,
              floor(CAST(lsum AS DOUBLE) / (1000.0 * ow * oh)
                * 1000000.0 + 0.5) / 1000000.0 AS mean_luma
       FROM r ORDER BY media_id"""

  /** DuckDB oracle for `q_j6_card_render`: mirrors CardRender
    * .deriveContext + renderTg. Written with `@NL` standing for a
    * newline inside the template string constants, replaced by a REAL
    * newline character below (valid inside DuckDB string literals) so
    * the Scala source stays single-line readable.
    */
  /** Shared context-derivation CTEs (events → wrinkle-free card
    * context incl. the SOL-green guardrail) — the prelude of both the
    * tg and ui render oracles.
    */
  private val renderCtxPrelude: String =
    """WITH e AS (
         SELECT 'EV:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS event_key,
                event_id AS E, user_id AS U,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS K,
                event_type,
                strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%dT%H:%M:%SZ') AS data_as_of
         FROM events),
       c AS (
         SELECT *,
                ['primary','secondary','topic','market_risk'][CAST(E % 4 AS INT) + 1] AS card_type,
                ['red','yellow','gray','green'][CAST(U % 4 AS INT) + 1] AS risk_level0,
                CASE WHEN U % 11 <> 0 THEN upper(event_type) END AS symbol,
                CASE WHEN E % 3 <> 1 THEN ['eth','bsc','sol'][CAST(E % 3 AS INT) + 1] END AS chain,
                CASE WHEN E % 5 <> 2 OR E % 4 = 1 THEN '0x' || lpad(CAST(E AS VARCHAR), 40, '0') END AS ca,
                CASE WHEN E % 4 <> 3 OR E % 5 <> 4 THEN 'RN-' || CAST(E AS VARCHAR) END AS risk_note,
                CASE WHEN E % 7 <> 3 THEN (CASE WHEN E % 13 = 0 THEN 0.0 ELSE CAST(E % 99991 AS DOUBLE) / 100.0 END) END AS price,
                CASE WHEN U % 5 <> 2 THEN CAST(U * 137 % 900000 AS DOUBLE) + 0.25 END AS liq,
                CASE WHEN E % 6 <> 1 THEN CAST(U * 137 % 900000 AS DOUBLE) * 4.0 + 0.25 END AS fdv,
                CASE WHEN E % 2 = 0 THEN (CASE WHEN E % 34 = 0 THEN 0.0 ELSE 64.0 + CAST(E % 17 AS DOUBLE) END) END AS h24_o,
                CASE WHEN E % 2 = 0 THEN 53.0 + CAST(E % 23 AS DOUBLE) END AS h24_c,
                CASE WHEN U % 7 = 0 THEN 'LEGAL-' || CAST(U AS VARCHAR) END AS legal,
                CASE WHEN U % 2 = 0 THEN 'goplus:batch' END AS sec_src
         FROM e),
       c2 AS (
         SELECT *,
                (card_type IN ('primary','secondary') OR U % 3 <> 1) AS has_token,
                (card_type IN ('primary','secondary') OR U % 3 <> 1)
                  AND chain = 'sol' AND risk_level0 = 'green' AS guardrail
         FROM c),
       c3 AS (
         SELECT *,
                CASE WHEN guardrail THEN 'yellow' ELSE risk_level0 END AS risk_level,
                (E % 9 = 0 OR guardrail) AS degrade
         FROM c2)"""

  /** tg-render CTE chain (r..r3 over the prelude) — shared by the tg
    * render oracle and the pushcard-envelope oracle, which wraps the
    * rendered string instead of selecting it.
    */
  private val renderTgCtes: String =
    (renderCtxPrelude + """,
       r AS (
         SELECT *,
                CASE risk_level WHEN 'red' THEN '🔴 **高风险警报**'
                                WHEN 'yellow' THEN '🟡 **中风险提示**'
                                WHEN 'gray' THEN '⚫ **服务降级**'
                                ELSE '🟢 **低风险信号**' END AS hdr,
                '@NL**候选代币:** ' || coalesce(symbol, 'UNKNOWN')
                  || ' (' || upper(coalesce(chain, 'eth')) || ')'
                  || coalesce('@NL**合约地址:** `' || substr(ca, 1, 6) || '...' || substr(ca, 39, 4) || '`', '') AS token_def,
                '@NL**候选代币:** ' || coalesce(symbol, '')
                  || ' (' || upper(coalesce(chain, '')) || ')'
                  || coalesce('@NL**合约地址:** `' || substr(ca, 1, 6) || '...' || substr(ca, 39, 4) || '`', '') AS token_sec,
                CASE WHEN risk_level IN ('red','yellow','gray')
                     THEN '@NL⚠️ **风险提示:** ' || coalesce(risk_note, '') ELSE '' END AS risk_warn,
                '@NL@NL📊 **市场数据**@NL• 价格: $'
                  || coalesce(CASE WHEN price IS NOT NULL AND price <> 0 THEN printf('%.6f', price) END, '待获取')
                  || '@NL• 流动性: $'
                  || coalesce(CASE WHEN liq IS NOT NULL AND liq <> 0 THEN format('{:,}', CAST(round(liq) AS BIGINT)) END, '待获取')
                  || '@NL• FDV: $'
                  || coalesce(CASE WHEN fdv IS NOT NULL AND fdv <> 0 THEN format('{:,}', CAST(round(fdv) AS BIGINT)) END, '待获取')
                  || coalesce(CASE WHEN h24_c IS NOT NULL AND h24_c <> 0
                       THEN '@NL• 24h 变化: ' || printf('%.2f',
                              CASE WHEN h24_o IS NOT NULL AND h24_o <> 0
                                   THEN (h24_c - h24_o) / h24_o * 100 ELSE 0.0 END) || '%'
                       END, '') AS market,
                CASE WHEN E % 9 = 0 OR guardrail
                     THEN '@NL⚠️ **服务降级提示:** 部分数据服务暂时不可用，显示结果基于缓存或降级策略' ELSE '' END AS degr,
                '@NL@NL🔍 **验证路径:** /ev/' || CAST(E AS VARCHAR)
                  || '@NL📅 **数据时间:** ' || data_as_of
                  || '_' || coalesce(legal, '本信息仅为风险线索与技术判断，不构成投资建议。') || '_' AS tail,
                '<!-- Debug: rules_fired = '
                  || CASE WHEN E % 3 = 0 THEN '["R' || CAST(E % 5 AS VARCHAR) || '"]' ELSE '[]' END
                  || ' -->@NL<!-- Debug: risk_source = ' || coalesce(sec_src, '') || ' -->' AS debug
         FROM c3),
       r2 AS (
         SELECT *,
                CASE WHEN card_type = 'primary' AND E % 10 = 0 THEN
                  '@NL@NL———@NL🔎 **歧义候选（待确认）**@NL'
                  || array_to_string(list_transform([1, 2], i ->
                       '• ' || CAST(i AS VARCHAR) || '. '
                       || (CASE WHEN i = 1 THEN 'ETH' ELSE 'BSC' END)
                       || ' `' || substr('0x' || lpad(CAST(E + i AS VARCHAR), 40, '0'), 1, 6)
                       || '...' || substr('0x' || lpad(CAST(E + i AS VARCHAR), 40, '0'), 39, 4)
                       || '`  @NL  LP: $'
                       || coalesce(CASE WHEN (E + i) % 3 <> 0
                            THEN format('{:,}', CAST(round(CAST(U * 59 % 70000 AS DOUBLE) + i + 0.25) AS BIGINT)) END, '?')
                       || ' | 分数: ' || printf('%.2f', CAST(E % 100 + i AS DOUBLE) / 16.0)
                       || ' | Δt: '
                       || (CASE WHEN (U + i) % 3 <> 0 THEN CAST((E + i) % 90 AS VARCHAR) ELSE '?' END)
                       || 'm  @NL  '
                       || (CASE ['strong','medium','weak'][CAST((E + i) % 3 AS INT) + 1]
                             WHEN 'strong' THEN '🟩' WHEN 'medium' THEN '🟨' ELSE '⬜️' END)
                       || ' https://dex.example/p/' || CAST(E + i AS VARCHAR)), '@NL')
                  || '@NL_说明：候选池待确认，暂不下“可买”结论_'
                ELSE '' END AS cands,
                '🔵 **话题信号**'
                  || CASE WHEN has_token THEN token_def ELSE '' END
                  || '📌 **话题信息**'
                  || CASE WHEN K % 3 = 0 THEN '@NL• 话题ID: T' || CAST(K AS VARCHAR) ELSE '' END
                  || CASE WHEN E % 8 > 0 THEN '@NL• 相关实体: '
                       || array_to_string(list_transform(range(least(E % 8, 5)),
                            j -> 'E' || CAST((K + j) % 50 AS VARCHAR)), ', ') ELSE '' END
                  || CASE WHEN U % 7 > 0 THEN '@NL• 关键词: '
                       || array_to_string(list_transform(range(least(U % 7, 5)),
                            j -> 'kw' || CAST((E + j) % 40 AS VARCHAR)), ', ') ELSE '' END
                  || '@NL• 提及次数: '
                  || CASE WHEN E % 5 <> 1 THEN CAST(E % 500 AS VARCHAR) ELSE 'N/A' END
                  || '@NL• 置信度: '
                  || CASE WHEN U % 4 <> 1
                       THEN printf('%.1f', CAST(U % 101 AS DOUBLE) / 100.0 * 100) || '%'
                       ELSE '待计算' END
                  || CASE WHEN (E + U) % 4 > 0 THEN '@NL• 来源: '
                       || array_to_string(list_transform(range((E + U) % 4),
                            j -> 'src' || CAST(j AS VARCHAR)), ', ') ELSE '' END
                  || CASE WHEN E % 7 > 0 THEN '@NL• 证据:'
                       || array_to_string(list_transform(range(least(E % 7, 5)),
                            j -> '@NL  - [证据' || CAST(j + 1 AS VARCHAR)
                                 || '](https://x.example/s/' || CAST(E + j AS VARCHAR) || ')'), '') ELSE '' END
                  || degr || tail AS topic_tg,
                coalesce(CASE WHEN E % 16 <> 7 THEN risk_level0 END, risk_level, 'gray') AS risk_mr
         FROM r),
       r3 AS (
         SELECT *,
                hdr || '@NL' || token_def || risk_warn || market || degr || tail || debug || cands AS primary_tg,
                hdr || '@NL' || token_sec || risk_warn || market || degr || tail || debug AS secondary_tg,
                (CASE risk_mr WHEN 'red' THEN '🔴 **高风险警报**'
                              WHEN 'yellow' THEN '🟡 **中风险提示**'
                              WHEN 'gray' THEN '⚫ **服务降级**'
                              ELSE '🟢 **低风险信号**' END)
                  || CASE WHEN has_token THEN token_def ELSE '' END
                  || CASE WHEN risk_note IS NOT NULL AND risk_note <> ''
                       THEN '@NL⚠️ **风险提示:** ' || risk_note ELSE '' END
                  || '@NL@NL🛡️ **安全评估**@NL• GoPlus风险: '
                  || (CASE risk_mr WHEN 'red' THEN '🔴 高风险' WHEN 'yellow' THEN '🟡 中风险'
                                   WHEN 'green' THEN '🟢 低风险' ELSE '⚫ 未知' END)
                  || '@NL• 买入税: '
                  || CASE WHEN U % 6 <> 1 THEN printf('%.1f', CAST(U % 300 AS DOUBLE) / 10.0) || '%' ELSE '-' END
                  || '@NL• 卖出税: '
                  || CASE WHEN U % 6 <> 2 THEN printf('%.1f', CAST(U % 250 AS DOUBLE) / 10.0) || '%' ELSE '-' END
                  || '@NL• LP锁定: '
                  || CASE WHEN E % 7 <> 6 AND (E % 40 - 5) > 0 THEN CAST(E % 40 - 5 AS VARCHAR) || ' 天' ELSE '未锁定' END
                  || '@NL• 蜜罐检测: '
                  || CASE WHEN E % 3 <> 2 THEN (CASE WHEN U % 2 = 0 THEN '是' ELSE '否' END) ELSE '未知' END
                  || '@NL• 安全源: '
                  || coalesce(sec_src, CASE WHEN U % 5 = 3 THEN 'cache' END, '-')
                  || degr || tail AS market_risk_tg
         FROM r2)""")

  private val renderTgCase: String =
    """CASE card_type WHEN 'primary' THEN primary_tg
                      WHEN 'secondary' THEN secondary_tg
                      WHEN 'topic' THEN topic_tg
                      ELSE market_risk_tg END"""

  private val renderOracleSql: String =
    (renderTgCtes + s"""
       SELECT event_key, card_type, $renderTgCase AS render_tg
       FROM r3 ORDER BY event_key""").replace("@NL", "\n")

  /** DuckDB escape mirroring markupsafe (& first, numeric quotes). */
  private def uiEsc(x: String): String =
    s"""replace(replace(replace(replace(replace($x, '&', '&amp;'), """ +
      """'<', '&lt;'), '>', '&gt;'), '"', '&#34;'), '''', '&#39;')"""

  /** DuckDB oracle for `q_j6_card_render_ui`: the shared context
    * prelude + the ui wrinkle CTE, then the three template bodies
    * folded from the SAME segment resources the Spark renderer uses
    * ([[graft.operators.CardRenderUi.oracleExpr]]) — the static HTML
    * exists once; only the dynamic token expressions are re-stated
    * here in DuckDB SQL.
    */
  private def renderUiOracleSql: String = {
    import graft.operators.CardRenderUi.oracleExpr
    val legalDefault = "本信息仅为风险线索与技术判断，不构成投资建议。"
    val primaryToks = Map(
      "color" -> ("CASE risk_level WHEN 'red' THEN '#ff4444' " +
        "WHEN 'yellow' THEN '#ffaa00' WHEN 'gray' THEN '#808080' " +
        "ELSE '#44ff44' END"),
      "warnbg" -> ("CASE risk_level WHEN 'red' THEN '#fee' " +
        "WHEN 'yellow' THEN '#fff3cd' WHEN 'gray' THEN '#f0f0f0' " +
        "ELSE '#d4edda' END"),
      "badge" -> ("CASE risk_level WHEN 'red' THEN '高风险@NL            ' " +
        "WHEN 'yellow' THEN '中风险@NL            ' " +
        "WHEN 'gray' THEN '服务降级@NL            ' ELSE '低风险' END"),
      "symbol_e" -> uiEsc("symbol_u"),
      "chain_up_e" -> uiEsc("upper(chain)"),
      "ca8" -> uiEsc("substr(ca, 1, 8)"),
      "ca_6" -> uiEsc("substr(ca, 37, 6)"),
      "risk_warn" -> ("CASE WHEN risk_level IN ('red','yellow','gray') THEN " +
        "'@NL        <div class=\"risk-warning\">@NL            " +
        "<strong>⚠️ 风险提示:</strong> ' || " +
        s"coalesce(${uiEsc("risk_note_u")}, '') || " +
        "'@NL        </div>' END"),
      "price_cell" -> ("CASE WHEN price IS NOT NULL AND price <> 0 " +
        "THEN '$' || printf('%.6f', price) ELSE '待获取' END"),
      "liq_cell" -> ("CASE WHEN liq IS NOT NULL AND liq <> 0 THEN '$' || " +
        "format('{:,}', CAST(round(liq) AS BIGINT)) ELSE '待获取' END"),
      "fdv_cell" -> ("CASE WHEN fdv IS NOT NULL AND fdv <> 0 THEN '$' || " +
        "format('{:,}', CAST(round(fdv) AS BIGINT)) ELSE '待获取' END"),
      "h24_block" -> ("CASE WHEN h24_o IS NOT NULL AND h24_o <> 0 AND " +
        "h24_c IS NOT NULL AND h24_c <> 0 THEN " +
        "'@NL            <div class=\"metric-item\">@NL                " +
        "<div class=\"metric-label\">24h 变化</div>@NL                " +
        "<div class=\"metric-value\">' || " +
        "printf('%.2f', (h24_c - h24_o) / h24_o * 100) || " +
        "'%</div>@NL            </div>' END"),
      "degrade_block" -> ("CASE WHEN degrade THEN " +
        "'@NL        <div class=\"degraded-warning\">@NL            " +
        "⚠️ <strong>服务降级提示:</strong> " +
        "部分数据服务暂时不可用，显示结果基于缓存或降级策略@NL        </div>' END"),
      "verify_e" -> uiEsc("verify_u"),
      "asof_e" -> uiEsc("data_as_of"),
      "legal_e" -> s"coalesce(${uiEsc("legal_u")}, '$legalDefault')",
      "secsrc_e" -> uiEsc("sec_src"),
      "dexsrc_e" -> uiEsc("dex_src"),
      "cache_sfx" -> "CASE WHEN cache_state THEN ' (缓存)' END",
      "rules_json" -> ("CASE WHEN E % 3 = 0 THEN '[\"R' || " +
        "CAST(E % 5 AS VARCHAR) || '\"]' ELSE '[]' END"),
      "secsrc_raw" -> uiEsc("coalesce(sec_src, '')"))
    val tokenBlockSql = "CASE WHEN token_present THEN " +
      "'@NL  <div class=\"token-info\">@NL    <strong>候选代币:</strong> ' || " +
      s"${uiEsc("coalesce(symbol_u, 'UNKNOWN')")} || ' (' || " +
      s"${uiEsc("upper(coalesce(chain, 'eth'))")} || ')@NL    ' || " +
      "coalesce('@NL    <br><strong>合约地址:</strong> <code>' || " +
      s"${uiEsc("substr(ca, 1, 6)")} || '...' || " +
      s"${uiEsc("substr(ca, 39, 4)")} || '</code>@NL    ', '') || " +
      "'@NL  </div>@NL  ' END"
    val degradeAlertSql = "CASE WHEN degrade THEN " +
      "'@NL  <div class=\"alert alert-warning\">@NL    " +
      "⚠️ <strong>服务降级提示:</strong> " +
      "部分数据服务暂时不可用，显示结果基于缓存或降级策略@NL  </div>@NL  ' END"
    val footerToks = Map(
      "token_block" -> tokenBlockSql,
      "degrade_alert" -> degradeAlertSql,
      "verify_def" -> uiEsc("verify_u"),
      "asof_def" -> uiEsc("data_as_of"),
      "legal_def" -> s"coalesce(${uiEsc("legal_u")}, '$legalDefault')")
    def item(cond: String, label: String, body: String): String =
      s"CASE WHEN $cond THEN '@NL      <li><strong>$label:</strong> ' || " +
        s"$body || '</li>@NL      ' END"
    val topicToks = footerToks ++ Map(
      "topic_id_item" -> item("K % 3 = 0", "话题ID",
        "'T' || CAST(K AS VARCHAR)"),
      "entities_item" -> item("E % 8 > 0", "相关实体",
        "array_to_string(list_transform(range(least(E % 8, 5)), " +
          "j -> 'E' || CAST((K + j) % 50 AS VARCHAR)), ', ')"),
      "keywords_item" -> item("U % 7 > 0", "关键词",
        "array_to_string(list_transform(range(least(U % 7, 5)), " +
          "j -> 'kw' || CAST((E + j) % 40 AS VARCHAR)), ', ')"),
      "mention" -> ("CASE WHEN E % 5 <> 1 THEN CAST(E % 500 AS VARCHAR) " +
        "ELSE 'N/A' END"),
      "confidence" -> ("CASE WHEN U % 4 <> 1 THEN printf('%.1f', " +
        "CAST(U % 101 AS DOUBLE) / 100.0 * 100) || '%' ELSE '待计算' END"),
      "sources_item" -> item("(E + U) % 4 > 0", "来源",
        "array_to_string(list_transform(range((E + U) % 4), " +
          "j -> 'src' || CAST(j AS VARCHAR)), ', ')"),
      "links_item" -> ("CASE WHEN E % 7 > 0 THEN " +
        "'@NL      <li><strong>证据:</strong>@NL        ' || " +
        "array_to_string(list_transform(range(least(E % 7, 5)), j -> " +
        "'@NL        <a href=\"https://x.example/s/' || " +
        "CAST(E + j AS VARCHAR) || '\">证据' || CAST(j + 1 AS VARCHAR) || " +
        "'</a>' || (CASE WHEN j < least(E % 7, 5) - 1 THEN ', ' " +
        "ELSE '' END) || '@NL        '), '') || " +
        "'@NL      </li>@NL      ' END"))
    def mrSpan(cls: String, txt: String): String =
      s"'@NL    <span class=\"badge badge-$cls\">$txt</span>@NL    '"
    val mrToks = footerToks ++ Map(
      "mr_badge" -> ("CASE risk_mr " +
        s"WHEN 'red' THEN ${mrSpan("danger", "🔴 高风险警报")} " +
        s"WHEN 'yellow' THEN ${mrSpan("warning", "🟡 中风险提示")} " +
        s"WHEN 'gray' THEN ${mrSpan("secondary", "⚫ 服务降级")} " +
        s"ELSE ${mrSpan("success", "🟢 低风险信号")} END"),
      "mr_risk_note" -> ("CASE WHEN risk_note_u IS NOT NULL AND " +
        "risk_note_u <> '' THEN " +
        "'@NL  <div class=\"alert alert-warning\">@NL    " +
        s"⚠️ <strong>风险提示:</strong> ' || ${uiEsc("risk_note_u")} || " +
        "'@NL  </div>@NL  ' END"),
      "mr_goplus" -> ("CASE risk_mr WHEN 'red' THEN '🔴 高风险' " +
        "WHEN 'yellow' THEN '🟡 中风险' WHEN 'green' THEN '🟢 低风险' " +
        "ELSE '⚫ 未知' END"),
      "buy_tax" -> ("CASE WHEN U % 6 <> 1 THEN printf('%.1f', " +
        "CAST(U % 300 AS DOUBLE) / 10.0) || '%' ELSE '-' END"),
      "sell_tax" -> ("CASE WHEN U % 6 <> 2 THEN printf('%.1f', " +
        "CAST(U % 250 AS DOUBLE) / 10.0) || '%' ELSE '-' END"),
      "lp_lock" -> ("CASE WHEN E % 7 <> 6 AND (E % 40 - 5) > 0 THEN " +
        "CAST(E % 40 - 5 AS VARCHAR) || ' 天' ELSE '未锁定' END"),
      "honeypot" -> ("CASE WHEN E % 3 <> 2 THEN (CASE WHEN U % 2 = 0 " +
        "THEN '是' ELSE '否' END) ELSE '未知' END"),
      "mr_sec_src" -> uiEsc(
        "coalesce(sec_src, CASE WHEN U % 5 = 3 THEN 'cache' END, '-')"))
    (renderCtxPrelude + s""",
       u AS (
         SELECT *,
                CASE WHEN U % 13 = 5 AND symbol IS NOT NULL
                     THEN symbol || ' <A&B>"q''' ELSE symbol END AS symbol_u,
                CASE WHEN E % 11 = 7 AND risk_note IS NOT NULL
                     THEN risk_note || ' <b>&"x"''' ELSE risk_note END AS risk_note_u,
                '/ev/' || CAST(E AS VARCHAR) ||
                  CASE WHEN E % 12 = 5 THEN '?a=1&b=<2>' ELSE '' END AS verify_u,
                CASE WHEN U % 14 = 7 AND legal IS NOT NULL
                     THEN legal || ' <i>&注</i>' ELSE legal END AS legal_u,
                CASE WHEN U % 4 = 2 THEN 'dex<screener>&v1' END AS dex_src,
                (U % 9 = 4) AS cache_state,
                has_token AND (symbol IS NOT NULL OR chain IS NOT NULL
                               OR ca IS NOT NULL) AS token_present,
                coalesce(CASE WHEN E % 16 <> 7 THEN risk_level0 END,
                         risk_level, 'gray') AS risk_mr
         FROM c3)
       SELECT event_key, card_type,
              CASE WHEN card_type IN ('primary','secondary') AND ca IS NULL
                   THEN card_type || ' Card (Degraded)@NLSymbol: ' ||
                        coalesce(symbol_u, 'UNKNOWN') || '@NLRisk: ' || risk_level
                   WHEN card_type IN ('primary','secondary')
                   THEN ${oracleExpr("primary_card", primaryToks)}
                   WHEN card_type = 'topic'
                   THEN ${oracleExpr("topic_card", topicToks)}
                   ELSE ${oracleExpr("market_risk_card", mrToks)}
              END AS render_ui
       FROM u ORDER BY event_key""").replace("@NL", "\n")
  }

  /** DuckDB oracle for `q_j6_pushcard`: the tg-render CTE chain, then
    * the envelope JSON re-assembled byte-for-byte (Python dict
    * insertion order, explicit nulls, conditional keys) and the
    * validator's violation list re-derived ANALYTICALLY from the
    * fixture rules — the oracle never runs a validator, so the gate
    * cross-checks graft's JsonSchemaValidate walk order (root
    * additionalProperties in doc order, then schema-order descent
    * with per-key required emissions) against closed-form SQL.
    */
  private def pushcardOracleSql: String = {
    // `raw` interpolator: the s-interpolator processes \-escapes even
    // inside triple quotes, which would hand DuckDB real newlines
    def jEsc(x: String): String =
      raw"""replace(replace(replace($x, '\', '\\'), '"', '\"'), chr(10), '\n')"""
    val tokenInfo = """CASE WHEN NOT has_token THEN '{}' ELSE
              '{' || concat_ws(',',
                CASE WHEN symbol IS NOT NULL THEN '"symbol":"' || """ +
      jEsc("symbol") + """ || '"' END,
                CASE WHEN chain IS NOT NULL THEN '"chain":"' || chain || '"' END,
                CASE WHEN ca IS NOT NULL THEN '"ca_norm":"' || ca || '"' END)
              || '}' END"""
    (renderTgCtes + s""",
       p AS (
         SELECT *, $renderTgCase AS render_tg FROM r3)
       SELECT event_key, card_type,
              '{' || concat_ws(',',
                '"type":"' || card_type || '"',
                '"event_key":"' || event_key || '"',
                '"risk_level":"' || risk_level || '"',
                '"token_info":' || ($tokenInfo),
                '"metrics":{"price_usd":null,"liquidity_usd":null,"fdv":null,"ohlc":{}}',
                '"sources":{"security_source":"' ||
                  coalesce(CASE WHEN U % 5 = 3 THEN 'cache' END, '') ||
                  '","dex_source":""}',
                '"states":{"cache":false,"degrade":false,"stale":false,"reason":""}',
                '"evidence":{"goplus_raw":{"summary":""}}',
                '"risk_note":"' || coalesce(${jEsc("risk_note")}, '') || '"',
                '"verify_path":"/ev/' || CAST(E AS VARCHAR) || '"',
                '"data_as_of":"' || data_as_of || '"',
                '"rendered":{"tg":"' || ${jEsc("render_tg")} || '"}',
                CASE WHEN E % 3 = 0 THEN '"rules_fired":["R' ||
                  CAST(E % 5 AS VARCHAR) || '"]' END,
                CASE WHEN U % 7 = 0 THEN '"legal_note":"LEGAL-' ||
                  CAST(U AS VARCHAR) || '"' END,
                CASE WHEN card_type = 'secondary'
                     THEN '"source_level":"rumor"' END,
                CASE WHEN card_type = 'secondary'
                     THEN '"features_snapshot":{}' END,
                CASE WHEN card_type = 'topic' THEN '"topic_id":' ||
                  (CASE WHEN K % 3 = 0 THEN '"T' || CAST(K AS VARCHAR) || '"'
                        ELSE 'null' END) END,
                CASE WHEN card_type = 'topic' THEN '"topic_entities":[' ||
                  array_to_string(list_transform(range(E % 8),
                    j -> '"E' || CAST((K + j) % 50 AS VARCHAR) || '"'), ',')
                  || ']' END,
                CASE WHEN card_type = 'topic' THEN '"topic_mention_count":' ||
                  (CASE WHEN E % 5 <> 1 THEN CAST(E % 500 AS VARCHAR)
                        ELSE 'null' END) END)
              || '}' AS pushcard_json,
              FALSE AS schema_ok,
              concat_ws('; ',
                '$$.event_key: additionalProperties',
                '$$.rendered: additionalProperties',
                CASE WHEN card_type = 'topic' THEN
                  '$$.topic_id: additionalProperties; ' ||
                  '$$.topic_entities: additionalProperties; ' ||
                  '$$.topic_mention_count: additionalProperties' END,
                CASE WHEN card_type IN ('topic','market_risk')
                     THEN '$$.type: enum' END,
                CASE WHEN NOT has_token OR symbol IS NULL
                     THEN '$$.token_info.symbol: required' END,
                CASE WHEN NOT has_token OR chain IS NULL
                     THEN '$$.token_info.chain: required' END,
                '$$.metrics.ohlc.m5: required',
                '$$.metrics.ohlc.h1: required',
                '$$.metrics.ohlc.h24: required',
                CASE WHEN card_type = 'secondary' THEN
                  '$$.features_snapshot.active_addrs: required; ' ||
                  '$$.features_snapshot.top10_share: required; ' ||
                  '$$.features_snapshot.growth_30m: required; ' ||
                  '$$.features_snapshot.stale: required' END) AS violations_str,
              TRUE AS degrade_final
       FROM p ORDER BY event_key""").replace("@NL", "\n")
  }

  def oracleSql: Map[String, String] = Map(
    "q_f4_symbol_norm" ->
      """WITH r AS (
           SELECT doc_id,
                  CASE doc_id % 5
                    WHEN 0 THEN upper(source)
                    WHEN 1 THEN '$' || source
                    WHEN 2 THEN '$$' || upper(source)
                    WHEN 3 THEN '  ' || source || ' '
                    ELSE '' END AS raw_symbol
           FROM documents)
         SELECT doc_id, raw_symbol,
                CASE WHEN trim(raw_symbol) = '' THEN NULL
                     ELSE '$' || regexp_replace(lower(trim(raw_symbol)), '^\$+', '')
                END AS symbol_norm
         FROM r ORDER BY doc_id""",

    "q_f13_keyphrases" -> {
      val stops = sqlList(TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '\\$$\\w+|[a-z]{2,}') AS toks
            FROM documents),
          d AS (
            SELECT doc_id,
                   list_filter(toks, (x, i) -> list_position(toks, x) = i) AS ded
            FROM t)
          SELECT doc_id,
                 array_to_string(
                   list_filter(ded, x -> NOT list_contains($stops, x))[1:5], ',')
                   AS keyphrases
          FROM d ORDER BY doc_id"""
    },

    "q_f15_memeable" -> {
      val stops = sqlList(TextAnalysis.Stopwords.head._2)
      s"""WITH t AS (
            SELECT doc_id,
                   regexp_extract_all(lower(text), '\\$$\\w+|[a-z]{2,}') AS toks
            FROM documents),
          d AS (
            SELECT doc_id,
                   list_filter(toks, (x, i) -> list_position(toks, x) = i) AS ded
            FROM t),
          n AS (
            SELECT doc_id,
                   len(list_filter(ded, x -> NOT list_contains($stops, x))[1:5]) AS n_entities
            FROM d)
          SELECT doc_id, CAST(n_entities AS INT) AS n_entities,
                 floor(least(1.0, 0.3 * n_entities) * 10000.0 + 0.5) / 10000.0 AS confidence,
                 least(1.0, 0.3 * n_entities) >= 0.6 AS is_memeable
          FROM n ORDER BY doc_id"""
    },
    "q_j6_card_build" ->
      """WITH e AS (
           SELECT 'EV:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS event_key,
                  upper(event_type) AS symbol,
                  CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) % 3 = 0
                       THEN 'T' || CAST(json_extract_string(props, '$.k') AS INT) END AS topic_hash,
                  CASE WHEN user_id % 2 = 0 THEN 'strong' ELSE 'weak' END AS source_level,
                  epoch_us(ts) AS event_us, event_id, user_id, value
           FROM events),
         g AS (
           SELECT event_key,
                  CASE WHEN user_id % 5 = 0 THEN 'red'
                       WHEN user_id % 5 = 1 THEN 'yellow'
                       ELSE 'green' END AS goplus_risk,
                  event_us - 1000 AS goplus_us
           FROM e WHERE event_id % 4 <> 1),
         d AS (
           SELECT event_key, value AS dex_liquidity, event_us - 2000 AS dex_us
           FROM e WHERE event_id % 5 <> 2),
         r AS (
           SELECT event_key,
                  CASE WHEN value >= 150 THEN 'opportunity'
                       WHEN value < 30 THEN 'caution'
                       ELSE 'observe' END AS rules_level
           FROM e WHERE event_id % 6 <> 3),
         j AS (
           SELECT e.*, g.goplus_risk, g.goplus_us, d.dex_liquidity, d.dex_us,
                  r.rules_level,
                  (g.goplus_risk IS NULL OR d.dex_liquidity IS NULL
                    OR r.rules_level IS NULL) AS degrade
           FROM e LEFT JOIN g USING (event_key) LEFT JOIN d USING (event_key)
                  LEFT JOIN r USING (event_key)),
         c AS (
           SELECT event_key,
                  CASE WHEN coalesce(goplus_risk, 'gray') = 'red' THEN 'market_risk'
                       WHEN topic_hash IS NOT NULL THEN 'topic'
                       WHEN source_level = 'strong' THEN 'primary'
                       ELSE 'secondary' END AS card_type,
                  substr(concat_ws(' ', coalesce(symbol, '?'),
                    'level=' || coalesce(rules_level, 'none'),
                    'liq=' || coalesce(CAST(CAST(dex_liquidity AS DECIMAL(18,2)) AS VARCHAR), 'na'),
                    'risk=' || coalesce(goplus_risk, 'gray')), 1, 280) AS summary,
                  substr(CASE WHEN degrade
                    THEN 'degraded sources; risk=' || coalesce(goplus_risk, 'gray')
                    ELSE 'risk=' || coalesce(goplus_risk, 'gray') END, 1, 160) AS risk_note,
                  degrade,
                  least(event_us, coalesce(goplus_us, event_us),
                        coalesce(dex_us, event_us)) AS data_as_of_us
           FROM j)
         SELECT *,
                (regexp_full_match(event_key, '[a-zA-Z0-9:_\-\.]{8,128}')
                 AND length(summary) BETWEEN 4 AND 280
                 AND length(risk_note) BETWEEN 4 AND 160) AS valid
         FROM c ORDER BY event_key""",

    // Byte-identical reconstruction of Cards.buildDocument's to_json
    // output: null fields omitted (concat_ws skips NULL parts), decimal
    // digit strings via DECIMAL casts, %.6g via printf (C semantics ==
    // Python's), section order fixed by the Spark struct.
    "q_j6_card_doc" ->
      """WITH e AS (
           SELECT 'EV:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS event_key,
                  upper(event_type) AS symbol,
                  epoch_us(ts) AS event_us, event_id, user_id, value
           FROM events),
         g AS (
           SELECT event_key,
                  CASE WHEN user_id % 5 = 0 THEN 'red'
                       WHEN user_id % 5 = 1 THEN 'yellow'
                       WHEN user_id % 5 = 2 THEN 'green'
                       WHEN user_id % 5 = 3 THEN 'gray'
                       ELSE 'hacked' END AS risk,
                  CASE WHEN user_id % 3 = 0 THEN 'goplus:batch' END AS risk_source,
                  CASE WHEN user_id % 2 = 0 THEN CAST((user_id % 100) / 1000.0 AS DECIMAL(6,4)) END AS tax_buy,
                  CASE WHEN user_id % 2 = 1 THEN CAST((user_id % 97) / 1000.0 AS DECIMAL(6,4)) END AS tax_sell,
                  CASE WHEN event_id % 3 = 0 THEN user_id % 2 = 0 END AS lp_locked,
                  CASE WHEN event_id % 2 = 0 THEN user_id % 5 = 0 END AS honeypot,
                  event_us - 1000000 AS goplus_us
           FROM e WHERE event_id % 4 <> 1),
         d AS (
           SELECT event_key,
                  CAST((event_id % 99991) / 100.0 AS DECIMAL(18,2)) AS price_usd,
                  CAST((user_id * 137 % 900000) + 0.25 AS DECIMAL(18,2)) AS liquidity_usd,
                  CASE WHEN event_id % 7 <> 5 THEN CAST((user_id * 137 % 900000) * 10.0 + 2.5 AS DECIMAL(18,2)) END AS fdv,
                  event_id % 2 = 0 AS has_ohlc,
                  CAST((event_id % 500) / 10.0 AS DECIMAL(18,2)) AS o_open,
                  CAST((event_id % 500) / 10.0 + 5.0 AS DECIMAL(18,2)) AS o_high,
                  CAST((event_id % 500) / 10.0 - 2.5 AS DECIMAL(18,2)) AS o_low,
                  CAST((event_id % 500) / 10.0 + 1.25 AS DECIMAL(18,2)) AS o_close,
                  strftime(make_timestamp(event_us - 2000000), '%Y-%m-%dT%H:%M:%SZ') AS o_ts,
                  event_us - 2000000 AS dex_us
           FROM e WHERE event_id % 5 <> 2),
         o AS (
           SELECT event_key,
                  CAST((user_id % 100) / 100.0 AS DECIMAL(6,4)) AS active_addr_pctl,
                  CAST((event_id % 200) / 100.0 - 1.0 AS DECIMAL(8,4)) AS growth_ratio,
                  CAST((user_id % 80) / 100.0 AS DECIMAL(6,4)) AS top10_share,
                  CAST((event_id % 30) / 1000.0 AS DECIMAL(6,4)) AS self_loop_ratio,
                  CASE WHEN user_id % 2 = 0 THEN 'strong' ELSE 'weak' END AS source_level,
                  event_us - 1500000 AS onchain_us
           FROM e WHERE user_id % 7 <> 4),
         r AS (
           SELECT event_key,
                  CASE WHEN value >= 150 THEN 'risk'
                       WHEN value >= 100 THEN 'caution'
                       WHEN value >= 50 THEN 'watch'
                       WHEN value >= 20 THEN 'none'
                       ELSE 'observe' END AS level,
                  CAST((event_id % 2000) / 100.0 AS DECIMAL(18,2)) AS score,
                  CASE WHEN event_id % 2 = 0 THEN
                    CASE WHEN event_id % 10 = 0
                         THEN ['R' || CAST(event_id % 5 AS VARCHAR), 'volume_spike', 'liq_drop', 'overflow_reason']
                         ELSE ['R' || CAST(event_id % 5 AS VARCHAR), 'volume_spike'] END
                  END AS reasons,
                  event_id % 3 = 0 AS has_all_reasons,
                  event_us - 3000000 AS rules_us
           FROM e WHERE event_id % 6 <> 3),
         v AS (
           SELECT event_key,
                  '{"type":"x_post_' || CAST(event_id % 3 AS VARCHAR)
                    || '","desc":"seen ' || symbol || ' by U' || CAST(user_id AS VARCHAR) || '"'
                    || CASE WHEN event_id % 2 = 0
                         THEN ',"url":"https://etherscan.io/tx/0x' || lpad(CAST(event_id AS VARCHAR), 8, '0') || '"'
                         ELSE '' END || '}'
                    || CASE WHEN event_id % 3 = 0
                         THEN ',{"type":"' || substr('onchain_verification_channel_extended_name', 1, 32)
                           || '","desc":"pool snapshot with extended diagnostics"}'
                         ELSE '' END AS ev_items
           FROM e WHERE event_id % 8 <> 7),
         j AS (
           SELECT e.*, g.risk, g.risk_source, g.tax_buy, g.tax_sell, g.lp_locked,
                  g.honeypot, g.goplus_us,
                  d.price_usd, d.liquidity_usd, d.fdv, d.has_ohlc, d.o_open,
                  d.o_high, d.o_low, d.o_close, d.o_ts, d.dex_us,
                  o.active_addr_pctl, o.growth_ratio, o.top10_share,
                  o.self_loop_ratio, o.source_level, o.onchain_us,
                  r.level, r.score, r.reasons, r.has_all_reasons, r.rules_us,
                  v.ev_items
           FROM e LEFT JOIN g USING (event_key) LEFT JOIN d USING (event_key)
                  LEFT JOIN o USING (event_key) LEFT JOIN r USING (event_key)
                  LEFT JOIN v USING (event_key)
           WHERE g.risk IS NOT NULL OR d.dex_us IS NOT NULL),
         c AS (
           SELECT *,
                  risk IS NOT NULL AS has_g, dex_us IS NOT NULL AS has_d,
                  level IS NOT NULL AS has_r, onchain_us IS NOT NULL AS has_o,
                  CASE WHEN risk IN ('green','yellow','red','gray') THEN risk ELSE 'gray' END AS risk_guard,
                  CASE WHEN level IS NULL THEN 'none'
                       WHEN level IN ('none','watch','caution','risk') THEN level
                       ELSE 'none' END AS level_out
           FROM j),
         c2 AS (
           SELECT *,
                  CASE WHEN has_g THEN risk_guard ELSE 'gray' END AS risk_out,
                  (NOT has_g OR NOT has_d OR NOT has_r) AS degrade,
                  list_filter([CASE WHEN NOT has_g THEN 'missing goplus' END,
                               CASE WHEN NOT has_d THEN 'missing dex' END,
                               CASE WHEN NOT has_r THEN 'missing rules' END],
                              x -> x IS NOT NULL) AS degrade_reasons
           FROM c),
         c3 AS (
           SELECT *,
                  CASE WHEN has_r THEN (coalesce(reasons, [])[1:3] || degrade_reasons)[1:3]
                       ELSE degrade_reasons[1:3] END AS reasons_out,
                  CASE WHEN has_o AND level_out IN ('caution','risk') THEN 'primary'
                       WHEN level_out = 'watch' THEN 'secondary'
                       ELSE 'topic' END AS card_type,
                  strftime(make_timestamp(least(goplus_us, dex_us, onchain_us, rules_us)),
                           '%Y-%m-%dT%H:%M:%SZ') AS data_as_of,
                  concat_ws(' | ', symbol,
                    CASE WHEN has_d AND CAST(price_usd AS DOUBLE) <> 0
                         THEN '价格≈$' || printf('%.6g', CAST(price_usd AS DOUBLE)) END,
                    CASE WHEN has_d AND CAST(liquidity_usd AS DOUBLE) <> 0
                         THEN '流动性≈$' || printf('%.6g', CAST(liquidity_usd AS DOUBLE)) END,
                    '规则判定' || level_out) AS summary
           FROM c2),
         c4 AS (
           SELECT *,
                  '合约体检' || risk_out || '；关注税率/LP/交易限制' AS risk_note,
                  CASE WHEN has_g THEN
                    '{' || concat_ws(',',
                      '"risk":"' || risk_guard || '"',
                      '"risk_source":"' || coalesce(risk_source, 'GoPlus@v1.0') || '"',
                      CASE WHEN tax_buy IS NOT NULL THEN '"tax_buy":' || CAST(tax_buy AS VARCHAR) END,
                      CASE WHEN tax_sell IS NOT NULL THEN '"tax_sell":' || CAST(tax_sell AS VARCHAR) END,
                      CASE WHEN lp_locked IS NOT NULL THEN '"lp_locked":' || CAST(lp_locked AS VARCHAR) END,
                      CASE WHEN honeypot IS NOT NULL THEN '"honeypot":' || CAST(honeypot AS VARCHAR) END) || '}'
                  ELSE '{"risk":"gray","risk_source":"unavailable"}' END AS goplus_json,
                  CASE WHEN has_d THEN
                    '{' || concat_ws(',',
                      '"price_usd":' || CAST(price_usd AS VARCHAR),
                      '"liquidity_usd":' || CAST(liquidity_usd AS VARCHAR),
                      CASE WHEN fdv IS NOT NULL THEN '"fdv":' || CAST(fdv AS VARCHAR) END,
                      CASE WHEN has_ohlc THEN
                        '"ohlc":{"m5":{"open":' || CAST(o_open AS VARCHAR)
                          || ',"high":' || CAST(o_high AS VARCHAR)
                          || ',"low":' || CAST(o_low AS VARCHAR)
                          || ',"close":' || CAST(o_close AS VARCHAR)
                          || ',"ts":"' || o_ts || '"}}' END) || '}'
                  ELSE '{}' END AS dex_json,
                  CASE WHEN has_o THEN
                    '{"features_snapshot":{"active_addr_pctl":' || CAST(active_addr_pctl AS VARCHAR)
                      || ',"growth_ratio":' || CAST(growth_ratio AS VARCHAR)
                      || ',"top10_share":' || CAST(top10_share AS VARCHAR)
                      || ',"self_loop_ratio":' || CAST(self_loop_ratio AS VARCHAR)
                      || '},"source_level":"' || source_level || '"}' END AS onchain_json,
                  '{' || concat_ws(',',
                    '"level":"' || level_out || '"',
                    CASE WHEN has_r THEN '"score":' || CAST(score AS VARCHAR) END,
                    CASE WHEN len(reasons_out) > 0 THEN
                      '"reasons":[' || array_to_string(list_transform(reasons_out, x -> '"' || x || '"'), ',') || ']' END,
                    CASE WHEN has_r AND has_all_reasons THEN '"all_reasons":["a1","a2"]' END) || '}' AS rules_json,
                  CASE WHEN ev_items IS NOT NULL THEN '[' || ev_items || ']' END AS evidence_json
           FROM c3)
         SELECT event_key, card_type,
                '{"event_key":"' || event_key || '","card_type":"' || card_type
                  || '","data":{"goplus":' || goplus_json || ',"dex":' || dex_json
                  || CASE WHEN onchain_json IS NOT NULL THEN ',"onchain":' || onchain_json ELSE '' END
                  || ',"rules":' || rules_json || '}'
                  || CASE WHEN evidence_json IS NOT NULL THEN ',"evidence":' || evidence_json ELSE '' END
                  || ',"summary":"' || summary || '","risk_note":"' || risk_note
                  || '","meta":{"version":"cards@19.0","data_as_of":"' || data_as_of
                  || '","summary_backend":"template"'
                  || CASE WHEN degrade THEN ',"degrade":true' ELSE '' END
                  || '}}' AS card_json,
                degrade,
                (regexp_full_match(event_key, '[A-Z0-9:_\-\.]{8,128}')
                  AND length(summary) BETWEEN 1 AND 280
                  AND length(risk_note) BETWEEN 1 AND 160
                  AND risk_out IN ('green','yellow','red','gray')
                  AND level_out IN ('none','watch','caution','risk')
                  AND len(reasons_out) <= 3
                  AND coalesce(CAST(tax_buy AS DOUBLE) BETWEEN 0 AND 1, TRUE)
                  AND coalesce(CAST(tax_sell AS DOUBLE) BETWEEN 0 AND 1, TRUE)) AS valid
         FROM c4 ORDER BY event_key""",

    // Byte-identical reassembly of the four Telegram templates'
    // output (newlines are REAL newlines inside the SQL literals —
    // spliced in by the @NL replace below): printf %.6f/%.2f/%.1f
    // carry the same C half-even digits as the PyFixedFormat kernel,
    // format('{:,}') the same grouping as Python's {:,.0f} (fixture
    // fractions are .25 so the round() tie rule never fires).
    "q_j6_card_render" -> renderOracleSql,
    "q_j6_card_render_ui" -> renderUiOracleSql,
    "q_j6_pushcard" -> pushcardOracleSql,

    // the oracle RE-DERIVES the validator's verdict analytically from
    // the planted fixture class — it never runs a validator, so the
    // hash compare pins the walk order, paths, and keyword names
    "q_p6_schema_validate" ->
      """SELECT 'EV:' || lpad(CAST(event_id AS VARCHAR), 8, '0') AS event_key,
                event_id % 8 = 0 AS schema_ok,
                CASE event_id % 8
                  WHEN 0 THEN ''
                  WHEN 1 THEN '$.meta.summary_backend: required'
                  WHEN 2 THEN '$.card_type: enum'
                  WHEN 3 THEN '$.data.goplus.tax_buy: maximum; $.summary: minLength'
                  WHEN 4 THEN '$.data.rules.reasons: maxItems; $.data.rules.reasons[3]: maxLength'
                  WHEN 5 THEN '$.event_key: pattern'
                  WHEN 6 THEN '$.data.goplus.extra_flag: additionalProperties; $.meta.version: const'
                  ELSE '$.evidence[0].desc: required'
                END AS violations_str
         FROM events ORDER BY event_key""",

    // the pattern words are re-derived arithmetically (hi·2³²+lo ≤
    // 2⁶³−1, no BIGINT overflow) and the pair list is BRUTE FORCE —
    // exactness of the banded probe for d ≤ 3 is the claim under test
    "q_m_image_dedup" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id,
                  CASE v
                    WHEN 2 THEN xor((raw & -2) | 2,
                                    (1::BIGINT << CAST(base % 60 + 2 AS INT)))
                    WHEN 3 THEN (raw3 & -2) | 2
                    ELSE (raw & -2) | 2
                  END AS fp
           FROM f0)
         SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY ida, idb""",

    // ladder means are 63 + 3·(bits of word at position ≥ i): every
    // sum re-derived from the word, every verdict the same compare
    "q_m_video_quality" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v,
                  ((((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296)
                    & -2) | 2 AS word
           FROM w),
         bs AS (
           SELECT doc_id, v,
                  list_transform(range(65), i -> CASE WHEN i >= 64
                    THEN 0::BIGINT
                    ELSE bit_count(word >> i)::BIGINT END) AS bl
           FROM f0),
         m AS (
           SELECT doc_id,
                  CASE v WHEN 3 THEN 48 ELSE 8 END::BIGINT AS w,
                  CASE v WHEN 3 THEN 4 ELSE 8 END::BIGINT AS h,
                  CASE v WHEN 1 THEN 80 WHEN 2 THEN 70 WHEN 3 THEN 10
                         ELSE 130 END::BIGINT AS n_frames,
                  CASE v
                    WHEN 1 THEN 1600 WHEN 2 THEN 8960 WHEN 3 THEN 1000
                    ELSE 2 * list_sum(list_transform(bl, b -> 63 + 3 * b))
                  END::BIGINT AS mean_sum,
                  CASE v
                    WHEN 1 THEN 32000 WHEN 2 THEN 1146880
                    WHEN 3 THEN 100000
                    ELSE 2 * list_sum(list_transform(bl,
                      b -> (63 + 3 * b) * (63 + 3 * b)))
                  END::BIGINT AS mean2_sum
           FROM bs)
         SELECT doc_id, w, h, n_frames, mean_sum, mean2_sum,
                (mean_sum < 60 * n_frames) AS dark,
                (n_frames * mean2_sum - mean_sum * mean_sum
                  < 25 * n_frames * n_frames) AS is_static,
                (least(w, h) >= 8) AS res_ok,
                (w <= 3 * h AND h <= 3 * w) AS aspect_ok,
                (n_frames >= 25) AS long_enough
         FROM m ORDER BY doc_id""",

    // every sum and verdict re-derived from the word algebra with the
    // SAME integer comparisons (gray luma = pixel value; k = set bits)
    "q_m_image_quality" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v,
                  bit_count((((((base * 2654435761) % 2147483648)
                    * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296)
                    & -2) | 2))::BIGINT AS k
           FROM w),
         m AS (
           SELECT doc_id,
                  CASE v WHEN 1 THEN 24 WHEN 3 THEN 48
                         ELSE 16 END::BIGINT AS w,
                  CASE v WHEN 1 THEN 24 WHEN 3 THEN 4
                         ELSE 16 END::BIGINT AS h,
                  CASE v
                    WHEN 0 THEN 10240 + 640 * k
                    WHEN 1 THEN 11520
                    WHEN 2 THEN 51200 + 220 * k
                    ELSE 19200
                  END::BIGINT AS luma_sum,
                  CASE v
                    WHEN 0 THEN 409600 + 153600 * k
                    WHEN 1 THEN 230400
                    WHEN 2 THEN 10240000 + 100100 * k
                    ELSE 1920000
                  END::BIGINT AS l2,
                  CASE v WHEN 2 THEN 4 * k ELSE 0 END::BIGINT AS clip_count
           FROM f0)
         SELECT doc_id, w, h, luma_sum, clip_count,
                (luma_sum < 60 * w * h) AS dark,
                (w * h * l2 - luma_sum * luma_sum
                  < 100 * w * h * w * h) AS flat,
                (least(w, h) >= 8) AS res_ok,
                (w <= 3 * h AND h <= 3 * w) AS aspect_ok
         FROM m ORDER BY doc_id""",

    // analytic ViT-patch grid from the fixture dims + real text BPE
    // count → the same combined cost → the recursive-CTE BFD replay
    // (the q_c_pack_bfd oracle shape at the multimodal cost)
    "q_x_multimodal_pack" ->
      """WITH RECURSIVE t AS (
           SELECT doc_id, lang,
                  CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT)
                    + ((16 + (doc_id % 3) * 12 + 13) // 14)
                      * ((16 + (doc_id % 2) * 12 + 13) // 14) AS n_cost,
                  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    ::BIGINT AS k
           FROM documents),
         langs AS (SELECT DISTINCT lang FROM t),
         obfd AS (SELECT *, row_number() OVER (PARTITION BY lang
                    ORDER BY n_cost DESC, k ASC, doc_id ASC) AS rn FROM t),
         bfdf(lang, i, doc_id, pack_id, bins) AS (
           SELECT lang, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
                  CAST(NULL AS BIGINT),
                  CAST([] AS STRUCT(b BIGINT, used BIGINT)[]) FROM langs
           UNION ALL
           SELECT lang, i, doc_id,
                  coalesce(fit, nb) AS pack_id,
                  CASE WHEN fit IS NULL
                       THEN list_append(bins, {'b': nb, 'used': tt})
                       ELSE list_transform(bins, x -> CASE WHEN x.b = fit
                         THEN {'b': x.b, 'used': x.used + tt} ELSE x END)
                  END
           FROM (
             SELECT f.lang, f.i + 1 AS i, o.doc_id, o.n_cost AS tt,
                    f.bins, CAST(len(f.bins) AS BIGINT) AS nb,
                    list_min(list_transform(
                      list_filter(f.bins, x -> x.used + o.n_cost <= 160
                        AND x.used = list_max(list_transform(
                          list_filter(f.bins,
                            y -> y.used + o.n_cost <= 160),
                          y -> y.used))),
                      x -> x.b)) AS fit
             FROM bfdf f JOIN obfd o ON o.lang = f.lang AND o.rn = f.i + 1)),
         asg AS (SELECT lang, doc_id, pack_id FROM bfdf WHERE i > 0)
         SELECT a.lang, a.pack_id,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(t.n_cost) AS BIGINT) AS fill_cost,
                CAST(160 - sum(t.n_cost) AS BIGINT) AS pad_cost
         FROM asg a JOIN t ON t.doc_id = a.doc_id AND t.lang = a.lang
         GROUP BY 1, 2 ORDER BY a.lang, a.pack_id""",

    // shots = lead()-chained boundary frames (0 ∪ the word's set-bit
    // frames); keyframe mean from the ladder-step formula, guarding
    // the final step's out-of-range shift
    "q_m_video_shots" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v,
                  ((((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296)
                    & -2) | 2 AS word
           FROM w),
         b AS (
           SELECT doc_id, word, 0::BIGINT AS f FROM f0 WHERE v = 0
           UNION ALL
           SELECT doc_id, word, (2 * (i + 1))::BIGINT
           FROM f0, generate_series(0, 62) t(i)
           WHERE v = 0 AND ((word >> i) & 1) = 1),
         sh AS (
           SELECT doc_id, f AS start_frame,
                  coalesce(lead(f) OVER (PARTITION BY doc_id ORDER BY f),
                    130) - 1 AS end_frame,
                  (row_number() OVER (PARTITION BY doc_id ORDER BY f) - 1)
                    ::BIGINT AS shot_idx,
                  CASE WHEN f // 2 >= 64 THEN 63::BIGINT
                       ELSE 63 + 3 * bit_count(word >> (f // 2))::BIGINT
                  END AS key_mean
           FROM b),
         v0rows AS (
           SELECT doc_id, shot_idx, start_frame, end_frame,
                  (end_frame - start_frame + 1)::BIGINT AS n_frames,
                  key_mean
           FROM sh),
         fixed AS (
           SELECT doc_id, 0::BIGINT AS shot_idx, 0::BIGINT AS start_frame,
                  39::BIGINT AS end_frame, 40::BIGINT AS n_frames,
                  128::BIGINT AS key_mean
           FROM f0 WHERE v = 1
           UNION ALL
           SELECT doc_id, 0, 0, 29, 30, 50 FROM f0 WHERE v = 2
           UNION ALL
           SELECT doc_id, 1, 30, 59, 30, 180 FROM f0 WHERE v = 2
           UNION ALL
           SELECT doc_id, 0, 0, 9, 10, 100 FROM f0 WHERE v = 3
           UNION ALL
           SELECT doc_id, 1, 10, 19, 10, 30 FROM f0 WHERE v = 3
           UNION ALL
           SELECT doc_id, 2, 20, 29, 10, 220 FROM f0 WHERE v = 3)
         SELECT doc_id, shot_idx, start_frame, end_frame, n_frames,
                key_mean
         FROM v0rows
         UNION ALL
         SELECT doc_id, shot_idx, start_frame, end_frame, n_frames,
                key_mean
         FROM fixed
         ORDER BY doc_id, shot_idx""",

    // image clusters from the word algebra + recursive CC; the
    // ranking signal is the REAL text's whitespace token count
    "q_x_caption_select" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v,
                  len(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> x <> ''))::BIGINT AS n_ws
           FROM documents),
         f0 AS (
           SELECT doc_id, v, n_ws,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3,
                  (1::BIGINT << CAST(base % 60 + 2 AS INT)) AS flip
           FROM w),
         f AS (
           SELECT doc_id, n_ws,
                  CASE v
                    WHEN 2 THEN xor((raw & -2) | 2, flip)
                    WHEN 3 THEN (raw3 & -2) | 2
                    ELSE (raw & -2) | 2
                  END AS fp
           FROM f0),
         pr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb
           FROM f a JOIN f b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         e AS (SELECT ida AS a, idb AS b FROM pr
               UNION ALL SELECT idb, ida FROM pr),
         r AS (
           SELECT doc_id AS id, doc_id AS reach FROM f
           UNION
           SELECT r.id, e.b AS reach FROM r JOIN e ON e.a = r.reach),
         lab AS (SELECT id AS doc_id, min(reach) AS cluster_id
                 FROM r GROUP BY id),
         j AS (
           SELECT f.doc_id, lab.cluster_id, f.n_ws,
                  row_number() OVER (PARTITION BY lab.cluster_id
                    ORDER BY f.n_ws DESC, f.doc_id ASC) AS rn
           FROM f JOIN lab USING (doc_id))
         SELECT doc_id, cluster_id, n_ws, (rn = 1) AS keep
         FROM j ORDER BY doc_id""",

    // v0 segments are the word's maximal set-bit runs, derived with a
    // gaps-and-islands window chain over bit positions; v2/v3 fixed
    "q_m_audio_segments" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v,
                  ((((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296)
                    & -2) | 2 AS word
           FROM w),
         a AS (
           SELECT doc_id, i, ((word >> i) & 1) = 1 AS act
           FROM f0, generate_series(0, 63) t(i) WHERE v = 0),
         st AS (
           SELECT doc_id, i, act,
                  CASE WHEN act AND coalesce(lag(act) OVER
                      (PARTITION BY doc_id ORDER BY i), false) = false
                  THEN 1 ELSE 0 END AS isstart
           FROM a),
         g AS (
           SELECT doc_id, i, act,
                  sum(isstart) OVER (PARTITION BY doc_id ORDER BY i) AS seg
           FROM st),
         v0rows AS (
           SELECT doc_id, (seg - 1)::BIGINT AS seg_idx,
                  min(i)::BIGINT AS start_window,
                  max(i)::BIGINT AS end_window,
                  count(*)::BIGINT AS n_windows
           FROM g WHERE act GROUP BY doc_id, seg),
         fixed AS (
           SELECT doc_id, 0::BIGINT AS seg_idx, 0::BIGINT AS start_window,
                  63::BIGINT AS end_window, 64::BIGINT AS n_windows
           FROM f0 WHERE v = 2
           UNION ALL
           SELECT doc_id, 0, 0, 15, 16 FROM f0 WHERE v = 3
           UNION ALL
           SELECT doc_id, 1, 32, 63, 32 FROM f0 WHERE v = 3)
         SELECT doc_id, seg_idx, start_window, end_window, n_windows
         FROM v0rows
         UNION ALL
         SELECT doc_id, seg_idx, start_window, end_window, n_windows
         FROM fixed
         ORDER BY doc_id, seg_idx""",

    // v0 boundaries ARE the word's set bits (ladder steps 3 per set
    // bit); v2/v3 cut frames are fixture constants; v1 emits nothing
    "q_m_scene_changes" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v,
                  ((((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296)
                    & -2) | 2 AS word
           FROM w),
         v0rows AS (
           SELECT doc_id, (2 * (i + 1))::BIGINT AS frame_idx,
                  (63 + 3 * bit_count(word >> i)::BIGINT) AS prev_mean,
                  (63 + 3 * bit_count(word >> (i + 1))::BIGINT)
                    AS next_mean
           FROM f0, generate_series(0, 62) t(i)
           WHERE v = 0 AND ((word >> i) & 1) = 1),
         cutrows AS (
           SELECT doc_id, 30::BIGINT AS frame_idx, 50::BIGINT AS prev_mean,
                  180::BIGINT AS next_mean
           FROM f0 WHERE v = 2
           UNION ALL
           SELECT doc_id, 10, 100, 30 FROM f0 WHERE v = 3
           UNION ALL
           SELECT doc_id, 20, 30, 220 FROM f0 WHERE v = 3)
         SELECT doc_id, frame_idx, prev_mean, next_mean FROM v0rows
         UNION ALL
         SELECT doc_id, frame_idx, prev_mean, next_mean FROM cutrows
         ORDER BY doc_id, frame_idx""",

    // word-algebra quality verdicts (same cross-multiplied gates) →
    // brute-force pairs over passers → recursive CC → keep-best →
    // left join back so dropped docs carry cluster -1
    "q_m_media_pipeline" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id, v,
                  CASE v WHEN 3 THEN (raw3 & -2) | 2
                         WHEN 2 THEN 0
                         ELSE (raw & -2) | 2 END AS fp,
                  CASE v WHEN 1 THEN 576 ELSE 256 END::BIGINT AS pixels,
                  bit_count((raw & -2) | 2)::BIGINT AS k,
                  bit_count((raw3 & -2) | 2)::BIGINT AS k3
           FROM f0),
         q AS (
           SELECT doc_id, fp, pixels,
                  CASE v
                    WHEN 0 THEN NOT (10240 + 640 * k < 15360)
                      AND NOT (256 * (409600 + 153600 * k)
                        - (10240 + 640 * k) * (10240 + 640 * k) < 6553600)
                    WHEN 1 THEN NOT (23040 + 1440 * k < 34560)
                      AND NOT (576 * (921600 + 345600 * k)
                        - (23040 + 1440 * k) * (23040 + 1440 * k)
                        < 33177600)
                    WHEN 3 THEN NOT (10240 + 640 * k3 < 15360)
                      AND NOT (256 * (409600 + 153600 * k3)
                        - (10240 + 640 * k3) * (10240 + 640 * k3)
                        < 6553600)
                    ELSE FALSE
                  END AS quality_ok
           FROM f),
         p AS (SELECT doc_id, fp, pixels FROM q WHERE quality_ok),
         pr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb
           FROM p a JOIN p b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         e AS (SELECT ida AS a, idb AS b FROM pr
               UNION ALL SELECT idb, ida FROM pr),
         r AS (
           SELECT doc_id AS id, doc_id AS reach FROM p
           UNION
           SELECT r.id, e.b AS reach FROM r JOIN e ON e.a = r.reach),
         lab AS (SELECT id AS doc_id, min(reach) AS cluster_id
                 FROM r GROUP BY id),
         j AS (
           SELECT p.doc_id, lab.cluster_id, p.pixels,
                  row_number() OVER (PARTITION BY lab.cluster_id
                    ORDER BY p.pixels DESC, p.doc_id ASC) AS rn
           FROM p JOIN lab USING (doc_id))
         SELECT q.doc_id, q.quality_ok,
                coalesce(j.cluster_id, -1)::BIGINT AS cluster_id,
                coalesce(j.rn = 1, FALSE) AS kept
         FROM q LEFT JOIN j USING (doc_id)
         ORDER BY doc_id""",

    // every Exif fact and both byte sizes re-derived from the planted
    // rules: base JPEG 148+3n (n = 2·(2+id%3) blocks), APP1 68/182,
    // stripped file always base+68 (no-GPS inputs return unchanged)
    "q_m_exif_pii" ->
      """SELECT doc_id,
                CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
                '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                  || ' 10:30:00' AS date_time,
                doc_id % 3 <> 1 AS has_gps,
                CASE WHEN doc_id % 3 <> 1 THEN
                  CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END END AS lat_ref,
                CASE WHEN doc_id % 3 <> 1 THEN doc_id % 90 END AS lat_deg,
                CASE WHEN doc_id % 3 <> 1 THEN doc_id % 60 END AS lat_min,
                CASE WHEN doc_id % 3 <> 1 THEN (doc_id * 31) % 60 END AS lat_sec,
                CASE WHEN doc_id % 3 <> 1 THEN
                  CASE WHEN doc_id % 4 < 2 THEN 'E' ELSE 'W' END END AS lon_ref,
                CASE WHEN doc_id % 3 <> 1 THEN doc_id % 180 END AS lon_deg,
                CASE WHEN doc_id % 3 <> 1 THEN (doc_id * 7) % 60 END AS lon_min,
                CASE WHEN doc_id % 3 <> 1 THEN (doc_id * 13) % 60 END AS lon_sec,
                148 + 3 * (2 * (2 + doc_id % 3))
                  + CASE WHEN doc_id % 3 <> 1 THEN 182 ELSE 68 END
                  AS bytes_before,
                CAST(148 + 3 * (2 * (2 + doc_id % 3)) + 68 AS BIGINT)
                  AS bytes_after,
                TRUE AS gps_gone,
                TRUE AS raster_intact
         FROM documents ORDER BY doc_id""",

    // planted luma values re-derived analytically (constant gray ⇒
    // mean luma = v), then the exact scorePsi chain: score-bin via
    // the 1e-6 quantization, full-outer bin counts, fixed-point ln
    // and psi summands, exact total
    "q_m_quality_psi" ->
      """WITH v AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 0
                       THEN least(255, 20 + (doc_id * 7) % 200 + 30)
                       ELSE 20 + (doc_id * 7) % 200 END AS luma
           FROM documents),
         b AS (
           SELECT doc_id, least(CAST(floor(CAST(luma AS DOUBLE) / 256.0
                    * 1000000.0 + 0.5) AS BIGINT) // 100000, 9) AS bin
           FROM v),
         bins AS (
           SELECT bin,
                  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_ref,
                  CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_cur
           FROM b GROUP BY bin),
         tot AS (
           SELECT CAST(sum(n_ref) AS BIGINT) AS nt_ref,
                  CAST(sum(n_cur) AS BIGINT) AS nt_cur
           FROM bins),
         w AS (
           SELECT bin, n_ref, n_cur,
                  CAST(n_ref AS DOUBLE) / CAST(nt_ref AS DOUBLE) AS p_ref_raw,
                  CAST(n_cur AS DOUBLE) / CAST(nt_cur AS DOUBLE) AS p_cur_raw,
                  CASE WHEN n_ref > 0 AND n_cur > 0 THEN
                    CAST(floor(ln(CAST(n_ref * nt_cur AS DOUBLE)
                      / CAST(n_cur * nt_ref AS DOUBLE)) * 1000000.0 + 0.5)
                      AS BIGINT)
                  END AS ln_u
           FROM bins, tot),
         w2 AS (
           SELECT *,
                  CASE WHEN ln_u IS NOT NULL THEN
                    CAST(floor((p_ref_raw - p_cur_raw)
                      * CAST(ln_u AS DOUBLE) + 0.5) AS BIGINT)
                  END AS psi_u
           FROM w),
         pt AS (
           SELECT CAST(coalesce(sum(psi_u), 0) AS BIGINT) AS psi_total_u
           FROM w2)
         SELECT bin, n_ref, n_cur,
                floor(p_ref_raw * 1000000.0 + 0.5) / 1000000.0 AS p_ref,
                floor(p_cur_raw * 1000000.0 + 0.5) / 1000000.0 AS p_cur,
                CAST(psi_u AS DOUBLE) / 1000000.0 AS psi,
                CAST(psi_total_u AS DOUBLE) / 1000000.0 AS psi_total
         FROM w2, pt ORDER BY bin""",

    // from-scratch CC over the slice's quality passers — the ingest
    // loop's labels must be a pure function of the admitted doc set,
    // whatever the batch split (same algebra as q_m_media_pipeline,
    // re-indexed j = doc_id // 4 on the doc_id % 4 = 2 slice)
    "q_m_incremental_dedup" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, (doc_id // 4) // 4 AS base,
                  (doc_id // 4) % 4 AS v
           FROM documents WHERE doc_id % 4 = 2),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id, v,
                  CASE v WHEN 3 THEN (raw3 & -2) | 2
                         WHEN 2 THEN 0
                         ELSE (raw & -2) | 2 END AS fp,
                  CASE v WHEN 1 THEN 576 ELSE 256 END::BIGINT AS pixels,
                  bit_count((raw & -2) | 2)::BIGINT AS k,
                  bit_count((raw3 & -2) | 2)::BIGINT AS k3
           FROM f0),
         q AS (
           SELECT doc_id, fp, pixels,
                  CASE v
                    WHEN 0 THEN NOT (10240 + 640 * k < 15360)
                      AND NOT (256 * (409600 + 153600 * k)
                        - (10240 + 640 * k) * (10240 + 640 * k) < 6553600)
                    WHEN 1 THEN NOT (23040 + 1440 * k < 34560)
                      AND NOT (576 * (921600 + 345600 * k)
                        - (23040 + 1440 * k) * (23040 + 1440 * k)
                        < 33177600)
                    WHEN 3 THEN NOT (10240 + 640 * k3 < 15360)
                      AND NOT (256 * (409600 + 153600 * k3)
                        - (10240 + 640 * k3) * (10240 + 640 * k3)
                        < 6553600)
                    ELSE FALSE
                  END AS quality_ok
           FROM f),
         p AS (SELECT doc_id, fp, pixels FROM q WHERE quality_ok),
         pr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb
           FROM p a JOIN p b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         e AS (SELECT ida AS a, idb AS b FROM pr
               UNION ALL SELECT idb, ida FROM pr),
         r AS (
           SELECT doc_id AS id, doc_id AS reach FROM p
           UNION
           SELECT r.id, e.b AS reach FROM r JOIN e ON e.a = r.reach),
         lab AS (SELECT id AS doc_id, min(reach) AS cluster_id
                 FROM r GROUP BY id),
         sz AS (SELECT cluster_id, count(*) AS cluster_size
                FROM lab GROUP BY 1)
         SELECT p.doc_id, lab.cluster_id, sz.cluster_size, p.pixels,
                (row_number() OVER (PARTITION BY lab.cluster_id
                   ORDER BY p.pixels DESC, p.doc_id ASC)) = 1 AS keep
         FROM p JOIN lab USING (doc_id) JOIN sz USING (cluster_id)
         ORDER BY doc_id""",

    // word-algebra fingerprints → brute-force pairs → recursive-CTE
    // connected components → window keep-best (max pixels, min id)
    "q_m_media_canonical" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id,
                  CASE v
                    WHEN 2 THEN xor((raw & -2) | 2,
                                    (1::BIGINT << CAST(base % 60 + 2 AS INT)))
                    WHEN 3 THEN (raw3 & -2) | 2
                    ELSE (raw & -2) | 2
                  END AS fp,
                  CASE WHEN v = 1 THEN 576::BIGINT
                       ELSE 256::BIGINT END AS pixels
           FROM f0),
         pr AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb
           FROM f a JOIN f b ON a.doc_id < b.doc_id
           WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         e AS (SELECT ida AS a, idb AS b FROM pr
               UNION ALL SELECT idb, ida FROM pr),
         r AS (
           SELECT doc_id AS id, doc_id AS reach FROM f
           UNION
           SELECT r.id, e.b AS reach FROM r JOIN e ON e.a = r.reach),
         lab AS (SELECT id AS doc_id, min(reach) AS cluster_id
                 FROM r GROUP BY id),
         j AS (
           SELECT f.doc_id, lab.cluster_id, f.pixels,
                  row_number() OVER (PARTITION BY lab.cluster_id
                    ORDER BY f.pixels DESC, f.doc_id ASC) AS rn
           FROM f JOIN lab USING (doc_id))
         SELECT doc_id, cluster_id, pixels, (rn = 1) AS keep
         FROM j ORDER BY doc_id""",

    // the video fingerprint of a planted constant-luma ladder IS its
    // pattern word (resolution-, rate-, and brightness-invariant),
    // so the oracle is the shared word algebra a third time
    "q_m_video_dedup" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id,
                  CASE v
                    WHEN 2 THEN xor((raw & -2) | 2,
                                    (1::BIGINT << CAST(base % 60 + 2 AS INT)))
                    WHEN 3 THEN (raw3 & -2) | 2
                    ELSE (raw & -2) | 2
                  END AS fp
           FROM f0)
         SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY ida, idb""",

    // the audio fingerprint of a planted amplitude ladder IS its
    // pattern word (gain- and duration-invariant), so the oracle is
    // the image gate's word algebra verbatim
    "q_m_audio_dedup" ->
      """WITH w AS (
           SELECT doc_id, doc_id // 4 AS base, doc_id % 4 AS v
           FROM documents),
         f0 AS (
           SELECT doc_id, v, base,
                  (((base * 2654435761) % 2147483648) * 4294967296
                    + ((base + 123456789) * 2654435761) % 4294967296) AS raw,
                  ((((base + 1000003) * 2654435761) % 2147483648) * 4294967296
                    + ((base + 1000003 + 123456789) * 2654435761) % 4294967296) AS raw3
           FROM w),
         f AS (
           SELECT doc_id,
                  CASE v
                    WHEN 2 THEN xor((raw & -2) | 2,
                                    (1::BIGINT << CAST(base % 60 + 2 AS INT)))
                    WHEN 3 THEN (raw3 & -2) | 2
                    ELSE (raw & -2) | 2
                  END AS fp
           FROM f0)
         SELECT a.doc_id AS ida, b.doc_id AS idb,
                CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         FROM f a JOIN f b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.fp, b.fp)) <= 3
         ORDER BY ida, idb""",

    "q_m_media_features" ->
      """SELECT doc_id AS media_id,
                ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
                CAST(strlen(text) AS BIGINT) AS n_bytes,
                sha256(text) AS content_sha,
                floor((CAST(list_sum(list_transform(range(1, length(text) + 1),
                    i -> unicode(text[i]))) AS DOUBLE) / length(text))
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
                CAST(greatest(1, (n_chars * 10) // 1000) AS BIGINT) AS frame_count
         FROM documents ORDER BY media_id""",

    // analytic mirror of the encoded pixel/sample content: the gate's
    // decoder must land on exactly these numbers from the BYTES alone
    "q_m_media_decode" ->
      """WITH b AS (
           SELECT doc_id AS media_id,
                  CAST(4 + doc_id % 5 AS BIGINT) AS w,
                  CAST(3 + doc_id % 4 AS BIGINT) AS h
           FROM documents WHERE doc_id % 3 = 0),
         bp AS (
           SELECT media_id, w, h,
                  list_sum(flatten(list_transform(range(h), y ->
                    list_transform(range(w), x ->
                        299 * ((media_id + x + 11*y) % 256)
                      + 587 * ((media_id + 5*x + y) % 256)
                      + 114 * ((media_id + 3*x + 7*y) % 256))))) AS lsum
           FROM b),
         wv AS (
           SELECT doc_id AS media_id,
                  CAST(64 + doc_id % 129 AS BIGINT) AS n
           FROM documents WHERE doc_id % 3 = 1),
         wp AS (
           SELECT media_id, n,
                  list_sum(list_transform(range(n), i ->
                    abs(((media_id * 31 + i * 17) % 65536) - 32768))) AS asum
           FROM wv),
         g AS (
           SELECT doc_id AS media_id,
                  CAST(5 + doc_id % 4 AS BIGINT) AS w,
                  CAST(4 + doc_id % 3 AS BIGINT) AS h
           FROM documents WHERE doc_id % 3 = 2),
         gp AS (
           SELECT media_id, w, h,
                  list_sum(flatten(list_transform(range(h), y ->
                    list_transform(range(w), x ->
                        299 * ((media_id + x + 11*y) % 256)
                      + 587 * ((media_id + 5*x + y) % 256)
                      + 114 * ((media_id + 3*x + 7*y) % 256))))) AS lsum
           FROM g)
         SELECT media_id, 'bmp' AS format,
                CAST(54 + h * ((w * 3 + 3) // 4 * 4) AS BIGINT) AS n_bytes,
                w AS width, h AS height,
                floor(CAST(lsum AS DOUBLE) / (1000.0 * w * h)
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
                CAST(NULL AS BIGINT) AS n_samples,
                CAST(NULL AS BIGINT) AS duration_ms,
                CAST(NULL AS DOUBLE) AS mean_abs
         FROM bp
         UNION ALL
         SELECT media_id, 'wav',
                CAST(44 + n * 2 AS BIGINT),
                NULL, NULL, NULL,
                n, n * 1000 // 8000,
                floor(CAST(asum AS DOUBLE) / n * 1000000.0 + 0.5) / 1000000.0
         FROM wp
         UNION ALL
         -- PNG file size is closed-form because the fixture writes the
         -- zlib stream as ONE STORED block: sig 8 + IHDR 25 + IDAT
         -- (12 + raster+11) + IEND 12 = 68 + h*(1+3w)
         SELECT media_id, 'png',
                CAST(68 + h * (1 + 3 * w) AS BIGINT),
                w, h,
                floor(CAST(lsum AS DOUBLE) / (1000.0 * w * h)
                  * 1000000.0 + 0.5) / 1000000.0,
                NULL, NULL, NULL
         FROM gp
         ORDER BY media_id""",

    // analytic mirror of the JPEG fixture: blocks 0..n−2 decode to
    // uniform pixels 160 + (id·7 + 29b) % 32 (DC-only over the all-8s
    // quant table), the last block to 32 pixels clamped at 255 and 32
    // at 216 (DC 112 + the ±24 AC basis rows); file size is the
    // closed form 148 + 3n because DRI=1 byte-aligns every block
    "q_m_jpeg_decode" ->
      """WITH j AS (
           SELECT doc_id AS media_id,
                  CAST(2 * (2 + doc_id % 3) AS BIGINT) AS n
           FROM documents),
         p AS (
           SELECT media_id, n,
                  list_sum(list_transform(range(n - 1), b ->
                    64 * (160 + (media_id * 7 + 29 * b) % 32))) AS bsum
           FROM j)
         SELECT media_id, 'jpg' AS format,
                CAST(148 + 3 * n AS BIGINT) AS n_bytes,
                CAST(4 * n AS BIGINT) AS width,
                CAST(16 AS BIGINT) AS height,
                floor(CAST(bsum + 32 * 255 + 32 * 216 AS DOUBLE)
                    / (64 * n) * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
                CAST(NULL AS BIGINT) AS n_samples,
                CAST(NULL AS BIGINT) AS duration_ms,
                CAST(NULL AS DOUBLE) AS mean_abs
         FROM p ORDER BY media_id""",

    // analytic mirror of the COLOR JPEG fixture: every Y block is the
    // DC ramp (the grayscale fixture's formula over the flat block
    // index), chroma is per-MCU DC-only, and each RGB value passes
    // through the SAME BT.601 integer shifts the decoder uses —
    // floor((91881·Cr′+32768)/65536) etc. — with the final clamp
    // mirrored; the last Y block's clamped 255/216 rows convert
    // under the last MCU's chroma
    "q_m_jpeg_color" ->
      """WITH j AS (
           SELECT doc_id AS media_id,
                  CAST(2 * (1 + doc_id % 2) AS BIGINT) AS m
           FROM documents),
         ls AS (
           SELECT media_id, m,
                  list_sum(list_transform(
                    list_transform(range(4 * m - 1), i -> {
                      'y': 160 + (media_id * 7 + 29 * (i // 4)) % 8
                           + 8 * (i % 4),
                      'cb': 8 + (media_id + i // 4) % 8,
                      'cr': -(8 + (media_id + 2 * (i // 4)) % 8)}),
                    s -> 64 * (
                        299 * greatest(0, least(255, s.y +
                          CAST(floor((91881 * s.cr + 32768) / 65536.0) AS BIGINT)))
                      + 587 * greatest(0, least(255, s.y -
                          CAST(floor((22554 * s.cb + 46802 * s.cr + 32768) / 65536.0) AS BIGINT)))
                      + 114 * greatest(0, least(255, s.y +
                          CAST(floor((116130 * s.cb + 32768) / 65536.0) AS BIGINT)))))) AS nsum,
                  8 + (media_id + m - 1) % 8 AS cbl,
                  -(8 + (media_id + 2 * (m - 1)) % 8) AS crl,
                  -- the AC block's minus rows: (208 + ramp) − 48;
                  -- the plus rows clamp to 255 before conversion
                  160 + (media_id * 7 + 29 * (m - 1)) % 8 AS yminus
           FROM j),
         tot AS (
           SELECT media_id, m, nsum
             + 32 * (
                 299 * greatest(0, least(255, 255 +
                   CAST(floor((91881 * crl + 32768) / 65536.0) AS BIGINT)))
               + 587 * greatest(0, least(255, 255 -
                   CAST(floor((22554 * cbl + 46802 * crl + 32768) / 65536.0) AS BIGINT)))
               + 114 * greatest(0, least(255, 255 +
                   CAST(floor((116130 * cbl + 32768) / 65536.0) AS BIGINT))))
             + 32 * (
                 299 * greatest(0, least(255, yminus +
                   CAST(floor((91881 * crl + 32768) / 65536.0) AS BIGINT)))
               + 587 * greatest(0, least(255, yminus -
                   CAST(floor((22554 * cbl + 46802 * crl + 32768) / 65536.0) AS BIGINT)))
               + 114 * greatest(0, least(255, yminus +
                   CAST(floor((116130 * cbl + 32768) / 65536.0) AS BIGINT)))) AS lsum
           FROM ls)
         SELECT media_id, 'jpg' AS format,
                CAST(266 + 8 * m AS BIGINT) AS n_bytes,
                CAST(8 * m AS BIGINT) AS width,
                CAST(32 AS BIGINT) AS height,
                floor(CAST(lsum AS DOUBLE) / (1000.0 * 256 * m)
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_luma,
                CAST(NULL AS BIGINT) AS n_samples,
                CAST(NULL AS BIGINT) AS duration_ms,
                CAST(NULL AS DOUBLE) AS mean_abs
         FROM tot ORDER BY media_id""",

    // analytic mirror of the FLAC fixture: the four frames' |sample|
    // sums in closed form — 64·|c| (CONSTANT), the ramp's
    // 64·base + 2016·step (all values positive by construction), the
    // verbatim frame unrolled over range(64) (signed), and the
    // quadratic 32·x0 + 496·v + 4960 — plus the closed-form byte
    // size: only frame 1's rice quotient ⌊(1+id%5)/2⌋ varies
    "q_m_flac_decode" ->
      """WITH f AS (
           SELECT doc_id AS media_id,
                  64 * abs(doc_id % 256 - 128) AS s0,
                  64 * (3 * doc_id % 200) + 2016 * (1 + doc_id % 5) AS s1,
                  list_sum(list_transform(range(64), i ->
                    abs((doc_id + 17 * i) % 512 - 256))) AS s2,
                  32 * (doc_id % 50) + 496 * (1 + doc_id % 3) + 4960 AS s3
           FROM documents)
         SELECT media_id, 'flac' AS format,
                CAST(256 + 8 * ((1 + media_id % 5) // 2) AS BIGINT) AS n_bytes,
                CAST(NULL AS BIGINT) AS width,
                CAST(NULL AS BIGINT) AS height,
                CAST(NULL AS DOUBLE) AS mean_luma,
                CAST(224 AS BIGINT) AS n_samples,
                CAST(28 AS BIGINT) AS duration_ms,
                floor(CAST(s0 + s1 + s2 + s3 AS DOUBLE) / 224
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_abs
         FROM f ORDER BY media_id""",

    // detected format + byte count per id class, all closed forms
    // from the fixture encoders
    "q_m_sniff_decode" ->
      """SELECT doc_id AS media_id,
                CASE doc_id % 5 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav'
                  WHEN 2 THEN 'png' WHEN 3 THEN 'jpg'
                  ELSE 'flac' END AS format,
                CAST(CASE doc_id % 5
                  WHEN 0 THEN 54 + (3 + doc_id % 4)
                    * (((4 + doc_id % 5) * 3 + 3) // 4 * 4)
                  WHEN 1 THEN 44 + 2 * (64 + doc_id % 129)
                  WHEN 2 THEN 68 + (4 + doc_id % 3)
                    * (1 + 3 * (5 + doc_id % 4))
                  WHEN 3 THEN 148 + 6 * (2 + doc_id % 3)
                  ELSE 256 + 8 * ((1 + doc_id % 5) // 2)
                END AS BIGINT) AS n_bytes
         FROM documents ORDER BY media_id""",

    // per-window mirror: build each fixture's full sample list in SQL
    // (WAV's modular ramp / FLAC's four closed-form frames), slice
    // into 32-sample windows, and fold energy, neighbor sign changes,
    // and peak as exact integers
    "q_m_audio_features" ->
      """WITH s AS (
           SELECT doc_id, 'wav' AS format,
                  list_transform(range(64 + doc_id % 129), i ->
                    (doc_id * 31 + i * 17) % 65536 - 32768) AS xs
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 'flac',
                  list_concat(list_concat(list_concat(
                    list_transform(range(64), i -> doc_id % 256 - 128),
                    list_transform(range(64), i ->
                      3 * doc_id % 200 + (1 + doc_id % 5) * i)),
                    list_transform(range(64), i ->
                      (doc_id + 17 * i) % 512 - 256)),
                    list_transform(range(32), i ->
                      doc_id % 50 + (1 + doc_id % 3) * i + i * (i - 1) // 2))
           FROM documents WHERE doc_id % 2 = 1),
         wi AS (
           SELECT doc_id AS media_id, format,
                  unnest(range((len(xs) + 31) // 32)) AS window_idx, xs
           FROM s),
         win AS (
           SELECT media_id, format, window_idx,
                  list_slice(xs, window_idx * 32 + 1,
                    least(len(xs), window_idx * 32 + 32)) AS w
           FROM wi)
         SELECT media_id, format, window_idx,
                CAST(len(w) AS BIGINT) AS n,
                CAST(list_sum(list_transform(w, v -> v * v)) AS BIGINT)
                  AS sum_sq,
                floor(CAST(list_sum(list_transform(w, v -> v * v)) AS DOUBLE)
                  / len(w) * 1000000.0 + 0.5) / 1000000.0 AS mean_sq,
                CAST(coalesce(list_sum(list_transform(range(1, len(w)), i ->
                  CASE WHEN (w[i + 1] < 0) <> (w[i] < 0) THEN 1 ELSE 0 END)),
                  0) AS BIGINT) AS zero_crossings,
                CAST(list_max(list_transform(w, v -> abs(v))) AS BIGINT)
                  AS peak
         FROM win ORDER BY media_id, window_idx""",

    // decimation mirror: same sample lists, 8-sample block sums, and
    // floorDiv via the make-divisible identity ((s - ((s%c + c)%c))
    // // c == Math.floorDiv(s, c) since the numerator divides exactly)
    "q_m_audio_resample" ->
      """WITH s AS (
           SELECT doc_id, 'wav' AS format,
                  CAST(44 + 2 * (64 + doc_id % 129) AS BIGINT) AS n_bytes,
                  list_transform(range(64 + doc_id % 129), i ->
                    (doc_id * 31 + i * 17) % 65536 - 32768) AS xs
           FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT doc_id, 'flac',
                  CAST(256 + 8 * ((1 + doc_id % 5) // 2) AS BIGINT),
                  list_concat(list_concat(list_concat(
                    list_transform(range(64), i -> doc_id % 256 - 128),
                    list_transform(range(64), i ->
                      3 * doc_id % 200 + (1 + doc_id % 5) * i)),
                    list_transform(range(64), i ->
                      (doc_id + 17 * i) % 512 - 256)),
                    list_transform(range(32), i ->
                      doc_id % 50 + (1 + doc_id % 3) * i + i * (i - 1) // 2))
           FROM documents WHERE doc_id % 2 = 1),
         b AS (
           SELECT doc_id AS media_id, format, n_bytes, len(xs) AS n_in,
                  unnest(range((len(xs) + 7) // 8)) AS w, xs
           FROM s),
         m AS (
           SELECT media_id, format, n_bytes, w,
                  CAST(list_sum(list_slice(xs, w * 8 + 1,
                    least(n_in, w * 8 + 8))) AS BIGINT) AS bsum,
                  CAST(least(n_in, w * 8 + 8) - w * 8 AS BIGINT) AS cnt
           FROM b),
         d AS (
           SELECT media_id, format, n_bytes,
                  abs((bsum - ((bsum % cnt + cnt) % cnt)) // cnt) AS m_abs
           FROM m),
         agg AS (
           SELECT media_id, format, n_bytes,
                  CAST(count(*) AS BIGINT) AS n_samples,
                  CAST(sum(m_abs) AS BIGINT) AS abs_sum
           FROM d GROUP BY 1, 2, 3)
         SELECT media_id, format, n_bytes,
                CAST(NULL AS BIGINT) AS width,
                CAST(NULL AS BIGINT) AS height,
                CAST(NULL AS DOUBLE) AS mean_luma,
                n_samples,
                n_samples * 1000 // 1000 AS duration_ms,
                floor(CAST(abs_sum AS DOUBLE) / n_samples
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_abs
         FROM agg ORDER BY media_id""",

    "q_m_frame_sample" ->
      """SELECT doc_id AS media_id, unnest(range(0, n_chars * 10, 5000)) AS frame_ms,
                CAST(unnest(range(0, n_chars * 10, 5000)) // 5000 AS INT) AS frame_idx
         FROM documents
         WHERE doc_id % 3 = 2 AND n_chars * 10 > 0
         ORDER BY media_id, frame_ms""",

    // analytic mirror of the Y4M fixture's sampled frames: the gate's
    // container walk must land on exactly these luma means and
    // container-timebase stamps from the BYTES alone
    "q_m_video_frames" ->
      """WITH v AS (
           SELECT doc_id AS media_id,
                  CAST(4 + 2 * (doc_id % 3) AS BIGINT) AS w,
                  CAST(2 + 2 * (doc_id % 2) AS BIGINT) AS h,
                  CAST(2 + doc_id % 4 AS BIGINT) AS nf,
                  CAST(24 + doc_id % 2 AS BIGINT) AS fnum
           FROM documents),
         f AS (
           SELECT media_id, w, h, fnum, unnest(range(nf)) AS fi FROM v),
         s AS (
           SELECT media_id, fi AS frame_idx, fi * 1000 // fnum AS frame_ms,
                  w AS width, h AS height,
                  list_sum(flatten(list_transform(range(h), y ->
                    list_transform(range(w), x ->
                      (media_id + x + 11*y + 23*fi) % 256)))) AS ysum
           FROM f WHERE fi % 2 = 0)
         SELECT media_id, frame_idx, frame_ms, width, height,
                floor(CAST(ysum AS DOUBLE) / (width * height)
                  * 1000000.0 + 0.5) / 1000000.0 AS mean_y
         FROM s ORDER BY media_id, frame_idx""",

    "q_m_media_resize" -> resizeOracle,

    "q_f7_keywords_priority" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower('$' || upper(source) || ' ' || text), '\s+'),
                    x -> x <> '') AS toks
           FROM documents),
         p AS (
           SELECT doc_id,
                  list_filter(toks, t -> starts_with(t, '$'))
                  || list_filter(toks, t -> NOT starts_with(t, '$')
                       AND length(t) BETWEEN 2 AND 3)
                  || list_filter(toks, t -> NOT starts_with(t, '$')
                       AND NOT length(t) BETWEEN 2 AND 3) AS combined
           FROM t)
         SELECT doc_id,
                array_to_string(
                  list_filter(combined, (x, i) -> list_position(combined, x) = i)[1:5],
                  ',') AS keywords
         FROM p ORDER BY doc_id""",

    "q_f16_entity_norm" ->
      """WITH t AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')[1:8] AS ents
           FROM documents),
         m AS (
           SELECT doc_id,
                  list_filter(
                    list_transform(ents, t -> CASE t
                      WHEN 'spark' THEN 'apache'
                      WHEN 'join' THEN 'merge'
                      WHEN 'dup' THEN 'duplicate'
                      ELSE t END),
                    t -> t NOT IN ('the', 'a')) AS l
           FROM t)
         SELECT doc_id,
                array_to_string(
                  list_filter(l, (x, i) -> list_position(l, x) = i), ',') AS entities
         FROM m ORDER BY doc_id""",

    "q_f21_serialization" ->
      """SELECT o_orderkey,
                CAST(CAST(CAST(o_orderkey AS DECIMAL(14,4)) / 16 AS DECIMAL(14,3)) AS VARCHAR) AS amount_3dp,
                strftime(o_orderdate, '%Y-%m-%dT%H:%M:%SZ') AS iso_ts
         FROM orders ORDER BY o_orderkey""",

    "q_p1_filter_gates" ->
      """WITH p AS (
           SELECT doc_id,
                  '$' || upper(source) || ' ' || text ||
                  CASE WHEN doc_id % 5 = 0 THEN ' launch'
                       WHEN doc_id % 5 = 1 THEN ' rug pull'
                       ELSE '' END AS post
           FROM documents),
         f AS (
           SELECT doc_id,
                  (contains(lower(post), 'launch') OR contains(lower(post), 'mint')
                    OR contains(lower(post), 'airdrop')) AS kw_hit,
                  regexp_matches(post, '\$[A-Z]{2,10}') AS sym_hit,
                  (contains(lower(post), 'rug') OR contains(lower(post), 'scam')) AS neg_hit
           FROM p)
         SELECT doc_id, kw_hit, sym_hit, neg_hit,
                ((kw_hit OR sym_hit) AND NOT neg_hit) AS passes
         FROM f ORDER BY doc_id""",

    "q_a5_mention_24h" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS us,
                    max(epoch_us(ts)) OVER () AS mx FROM events)
         SELECT event_type, count(*) AS mentions
         FROM e WHERE us >= mx - 86400000000
         GROUP BY event_type ORDER BY event_type""",

    "q_a7_transfers_window" ->
      """SELECT l_partkey, count(*) AS transfers,
                count(DISTINCT l_suppkey) AS uniq_from,
                count(DISTINCT l_orderkey) AS uniq_to,
                strftime(max(l_shipdate), '%Y-%m-%d') AS max_day
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1995-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
         GROUP BY l_partkey ORDER BY l_partkey""",

    "q_a11_concentration" ->
      """WITH bs AS (
           SELECT l_partkey, l_suppkey, sum(l_quantity) AS sq
           FROM lineitem GROUP BY 1, 2),
         conc AS (
           SELECT l_partkey,
                  floor(max(sq) / sum(sq) * 1000000.0 + 0.5) / 1000000.0 AS top1_share
           FROM bs GROUP BY l_partkey),
         loops AS (
           SELECT l_partkey,
                  floor(avg(CASE WHEN l_suppkey % 7 = l_linenumber % 7
                    THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS self_loop_ratio
           FROM lineitem GROUP BY l_partkey)
         SELECT conc.l_partkey, top1_share, self_loop_ratio
         FROM conc JOIN loops USING (l_partkey) ORDER BY l_partkey"""
  )
}
