package graft.rpt

import org.apache.spark.sql.internal.SQLConf

/**
 * Session-level settings for Robust Predicate Transfer, mirroring the
 * reference extension's settings surface
 * (reference: src/rpt_extension.cpp:56-69 — `rpt_profiling`,
 * `rpt_display_dag`, `rpt_filter_type`, `rpt_pass_mode`, `rpt_heuristic`,
 * `rpt_flip_roots`).
 *
 * All read through [[SQLConf]] so `spark.conf.set(...)` takes effect
 * per-query without session restart. Cost-model terms with one value in
 * use are named constants (`UpperCamel`), not keys; setting a key this
 * object does not declare raises ([[requireDeclared]]).
 */
object RptConf {
  val ENABLED = "spark.graft.rpt.enabled"
  /** `largestRoot` (MST rooted at largest table) | `joinOrder` (DAG from the
   *  optimized join tree). Reference: rpt_extension.cpp:66-67. */
  val HEURISTIC = "spark.graft.rpt.heuristic"
  /** `both` | `forwardOnly`. Reference: rpt_extension.cpp:64-65. */
  val PASS_MODE = "spark.graft.rpt.passMode"
  /** `all` | `bfOnly` | `minmaxOnly`. Reference: rpt_extension.cpp:62-63.
   *  Default differs from the reference (`all`): in the reference, min/max
   *  filters are pushed into table scans as zone-map predicates
   *  (physical_create_bf.cpp:282-350); Spark has no dynamic data-filter
   *  pushdown into parquet row groups, so min/max subqueries only add
   *  per-row comparisons + extra subquery jobs (measured ~7x rewrite
   *  overhead at sf0.01). `bfOnly` keeps the semi-join reduction that
   *  matters; set `all` for reference-faithful behavior. */
  val FILTER_TYPE = "spark.graft.rpt.filterType"
  /** Skip the rewrite when the join graph has fewer equi-join edges than
   *  this. Reference bails at <=1 edge (rpt_optimizer.cpp:1593-1595). */
  val MIN_EDGES = "spark.graft.rpt.minEdges"
  /** Log an ASCII transfer tree per query (reference: rpt_display_dag). */
  val DISPLAY_DAG = "spark.graft.rpt.displayDag"
  /** Print a per-probe selectivity report after each action (reference:
   *  rpt_profiling, rpt_extension.cpp:57-58). See [[RptProfiling]]. */
  val PROFILING = "spark.graft.rpt.profiling"
  /** Log the rewritten logical plan after splicing (reference:
   *  rpt_display_physical_dag — its physical DAG print,
   *  rpt_optimizer.cpp:812-824; Spark's physical plan is best inspected
   *  via .explain, so we log the post-rewrite plan instead). */
  val DISPLAY_PHYSICAL_DAG = "spark.graft.rpt.displayPhysicalDag"
  /** joinOrder heuristic only: demote non-largest transfer-DAG roots to
   *  leaves by edge reversal (reference: rpt_flip_roots, default true,
   *  rpt_extension.cpp:68-69, FlipRootsToLeaves rpt_optimizer.cpp:715-810). */
  val FLIP_ROOTS = "spark.graft.rpt.flipRoots"
  /** Only inject a probe filter when the probe unit's estimated
   *  cardinality is at least this many rows — a small probe target saves
   *  less in shuffled bytes than its build subquery costs in scheduling.
   *  Crucially this gates only the probe FILTER: the reduction still
   *  rides through gated units via their reduced views, so a selective
   *  filter crosses a tiny dim to the big tables behind it without the dim paying a probe of its own (the round-2
   *  regression was gating BOTH, which severed every cascade at its
   *  smallest hop). The reference schedules every edge
   *  (rpt_optimizer.cpp:876-995); 0 restores that. */
  val MIN_PROBE_ROWS = "spark.graft.rpt.minProbeRows"
  /** Only build bloom filters over units that carry a SELECTIVE predicate
   *  — a static filter beyond IsNotNull, or a reduction riding in from an
   *  earlier op. An unfiltered build side's filter contains every key it
   *  ever joins with, removes ~nothing on FK-shaped data, and still costs
   *  a build subquery + a per-row probe. The reference classifies tables
   *  into filtered/unfiltered/intermediate for the same reason
   *  (src/transfer_graph_manager.hpp:103-114). `false` =
   *  reference-faithful (transfer on every edge). */
  val FILTERED_BUILDS_ONLY = "spark.graft.rpt.filteredBuildsOnly"
  /** Skip ops whose build–probe JOIN is expected to run as a broadcast
   *  join: the gate compares the join's SMALLER input (planning-time
   *  sizeInBytes) with spark.sql.autoBroadcastJoinThreshold ×
   *  [[BroadcastConversionMargin]], since AQE converts on runtime sizes
   *  the static estimate overstates. A broadcast hash join probes its
   *  hash table in the SAME codegen stage as the probe-side scan, so a
   *  bloom filter in front of it saves nothing and still pays its build
   *  (measured: geomean 0.67x with broadcast joins, i.e. pure
   *  regression). Spark's own InjectRuntimeFilter gates on
   *  probable-shuffle-join identically. Deep plans bypass the gate: at
   *  [[DEEP_PLAN_EDGES]] edges or more it does not apply at all, and at
   *  half that an op whose probe has at least [[DeepPlanProbeRows]] rows
   *  and whose build is not measured weak transfers regardless. In the
   *  shuffle regime (threshold -1, or big build sides at cluster scale)
   *  this gate never fires. */
  val SKIP_BROADCASTABLE_BUILDS = "spark.graft.rpt.skipBroadcastableBuilds"
  /** Margin for the broadcast-skip estimate: skip a transfer when the
   *  build–probe JOIN's smaller input has sizeInBytes <=
   *  autoBroadcastJoinThreshold × this factor. Planning-time sizeInBytes
   *  OVERESTIMATES the size AQE's join conversion actually compares —
   *  only selectively-filtered builds ever transfer (their runtime rows
   *  are a fraction of the static estimate, invisible without CBO
   *  stats), and AQE measures compressed shuffle bytes. With margin 1
   *  the gate kept transferring from a 15 MB-static orders build whose
   *  filtered runtime side broadcast anyway — the whole query plan ran
   *  as broadcast hash joins with the BF build as pure overhead
   *  (semi_reduce 0.68–0.86×, q06 0.76–0.87× in the broadcast regime
   *  across r08/r09 runs). The shuffle regime (threshold -1) is
   *  unaffected. A fixed cost-model term, not a setting: the threshold
   *  it multiplies is the knob. */
  val BroadcastConversionMargin: Double = 4.0
  /** Join-graph edge count at and above which the broadcast-skip gate is
   *  bypassed entirely: on deep graphs a transferred reduction compounds
   *  through every downstream join, and a broadcast hash join still
   *  probes every fact row it receives — so transfers pay even where
   *  each individual join broadcasts. Measured on 13–16-edge shapes with
   *  every join under the threshold: 1.5–2× at sf1, 3–10× at sf10 over
   *  the gated plan (which sat at rule-off time); the 3–5-table shapes
   *  lose 15–30% with probes — the margin-widened skip protects those
   *  below this edge count. (Until round 11 this only dropped the margin
   *  to 1.0, which still stood down every under-threshold build.) */
  val DEEP_PLAN_EDGES = "spark.graft.rpt.deepPlanEdges"
  /** Probe-volume bypass of the broadcast-skip gate, complementing
   *  [[DEEP_PLAN_EDGES]]: an op whose PROBE unit is at least this many
   *  estimated rows transfers even when its join would broadcast. The
   *  round-12 edge-count ladder (RPTBENCH_r12) showed depth is only a
   *  shape proxy — the same 4–12-edge chains lose 2–18% with probes on a
   *  600k-row fact (sf0.1) and win 1.3–1.7× at EVERY depth on a 6M-row
   *  fact (sf1): the deciding variable is whether per-row savings on the
   *  probe side amortize the fixed subquery overhead, which is probe
   *  volume, not edges. The bypass additionally requires at least
   *  [[DEEP_PLAN_EDGES]]/2 edges: 2-edge scan-bound shapes have too
   *  little downstream work for the cut to pay at any measured scale
   *  (star_part 0.66x/0.73x at sf1/sf10), while 4+-edge chains win
   *  1.1-1.8x. Default 16M rows (raised from 4M in r13): re-measured at
   *  sf1 broadcast, 6M-row probes are noise-level for the chain family
   *  (0.92-1.09x) and a standing loss for q06 (0.66-0.76x), while
   *  60M-row probes win decisively (q06 4.4x at sf10) — the bypass pays
   *  from the tens-of-millions regime up, so the floor now sits between
   *  the measured scales (6M neutral-to-losing, 60M winning). At 100 TB
   *  every fact probe clears it (matching the reference, whose transfers
   *  don't consult join strategy at all). */
  val DeepPlanProbeRows: Long = 16777216L
  /** Keep-fraction ceiling for the probe-volume bypass, refining
   *  [[DeepPlanProbeRows]]: an op only BYPASSES the broadcast-skip
   *  gate when its build's estimated static keep fraction is NOT
   *  measured at or above this (stricter than the general
   *  [[MaxBuildKeepFraction]] 0.8). The bypass is the aggressive
   *  exception path — it transfers where the join-strategy argument says
   *  not to, betting that per-row downstream savings amortize the
   *  subquery overhead — and that bet only pays when the probe actually
   *  removes rows. q06's r12 0.76x at sf1 broadcast decomposes into
   *  exactly two bypassed ops, and its weak one is statically visible:
   *  `p_size < 25` keeps ~50% of parts by footer range estimate, so the
   *  part->lineitem probe hashes 6M rows to remove half — below the
   *  overhead line at sf1. The winning ladder chains' builds are either
   *  equality-driven (`r_name = 'ASIA'`, unestimable by footers — the
   *  bypass proceeds) or strongly ranged (`p_size < 10`, ~20% keep —
   *  under the ceiling). Estimable-and-weak builds keep the normal gate;
   *  unestimable ones get the benefit of the doubt, preserving the
   *  equality-cascade wins. Sf10 is unaffected: at that scale build
   *  sides exceed the broadcast ceiling and ops transfer without
   *  consulting the bypass at all. */
  val DeepPlanBypassKeepFraction: Double = 0.5
  /** Planning-time total-work floor — the payoff gate Spark needs and the
   *  reference does not: every transfer wave here costs a fixed overhead
   *  (a build-subquery stage launch + its result broadcast, plus a SECOND
   *  scan of the build side), where the reference re-emits materialized
   *  chunks in-process at ~zero cost (physical_create_bf.cpp:441-557).
   *  Only builds over a side the plan already broadcasts escape that cost
   *  ([[ResolveBroadcastBuilds]] drops or re-reads them at execution);
   *  this planning-time gate cannot see which those are and prices every
   *  wave alike.
   *  On a sub-second query those fixed costs can never amortize no matter
   *  how selective the probes are (JOBREAL_r14: 8-12 planned waves inside
   *  1 s queries measured 0.3-0.5x), while the SAME shapes win 1.6-2.7x
   *  once each query carries enough data (JOBTOPO sf1, the sf100 trio).
   *
   *  Mechanism: each query may spend `probedUnitBytes x
   *  [[WAVE_WORK_FRACTION]]` bytes of budget on transfer waves, where
   *  probedUnitBytes sums the leaf file bytes of the schedule's distinct
   *  probe-eligible units — the scan surface the transfers actually
   *  filter, which is what downstream payoff scales with (a five-arm
   *  fact topology earns five facts' worth of waves; a single-fact plan
   *  of the same total bytes affords only its cheap dim builds). Each
   *  distinct (build unit, keys, pass) group charges `max(thisSetting,
   *  [[WAVE_BUILD_FRACTION]] x buildUnitLeafBytes)` — the flat term
   *  models the stage-launch floor, the byte term the second build
   *  scan. Ops over budget inject no BF/min-max probe (schedule order
   *  spends on the cheap forward-pass dim builds first); a budget under
   *  one flat wave — or a plan under [[MIN_PLAN_WORK_BYTES]] total —
   *  plans no transfers at all. Scale-aware by construction: budget
   *  grows linearly with data, so at warehouse scale nothing is gated
   *  (sf100: multi-GB budgets vs ~100 MB of builds), while
   *  interactive-scale queries stand down. The SCAN pruning paths (v2
   *  in-scan keys/anchors/envelopes) are exempt: they are the cheap
   *  file-skipping analog of the reference's unconditional in-scan
   *  pushdown and pay at every scale.
   *  0 disables the floor (reference-faithful: transfer on every edge). */
  val WAVE_COST_BYTES = "spark.graft.rpt.waveCostBytes"
  /** Fast-bail half of the stand-down floor: when the plan's estimated
   *  total leaf scan volume is under this many bytes (and no
   *  runtime-filterable v2 relation is present), the rule exits before
   *  even building the transfer schedule — at that scale no wave's
   *  fixed cost can amortize. The finer-grained stand-down (budget
   *  under one flat wave, probe-bytes-denominated) lives in
   *  [[WAVE_COST_BYTES]]; this bail just skips schedule construction
   *  for plans that are obviously under it. 100 TB reading: any real
   *  warehouse query clears this by orders of magnitude; it exists to
   *  keep the interactive/CI tail of a workload from paying the
   *  planning tax. Gated by [[WAVE_COST_BYTES]] > 0 (the floor's
   *  master switch). */
  val MIN_PLAN_WORK_BYTES = "spark.graft.rpt.minPlanWorkBytes"
  /** Fraction of the plan's estimated total scan bytes available to spend
   *  on transfer waves (see [[WAVE_COST_BYTES]]). */
  val WAVE_WORK_FRACTION = "spark.graft.rpt.waveWorkFraction"
  /** Fraction of a build unit's leaf bytes charged against the wave
   *  budget (see [[WAVE_COST_BYTES]]): the build subquery scans only the
   *  key and filter columns (projection pushdown), so its cost is a
   *  fraction of the unit's full-width file bytes. */
  val WAVE_BUILD_FRACTION = "spark.graft.rpt.waveBuildBytesFraction"
  /** Banked-filter stand-down: a probe SITE that already carries its own
   *  selective static predicate gets most of its cut for free — the
   *  predicate is pushed into the scan, and in an interactive-scale plan
   *  the surviving rows die at the first (often broadcast) join anyway,
   *  so a transfer probe there largely RE-CUTS banked rows while its
   *  build still costs a full wave. Measured on the 113 real JOB texts
   *  at factor 0.5 (JOBREAL_r15 + a per-query probe-site planning sweep,
   *  PROBESITES_r18.json): queries
   *  whose every probe site is statically filtered geomean 0.73×
   *  broadcast / 0.70× shuffle (8a/8b, 9*, 18b, 19*, 5a, 15a — the
   *  residual loser class), while queries probing only unfiltered scans
   *  geomean 2.04×/3.50× with ZERO losers. The redundancy argument is
   *  scale-bounded: at warehouse scale even the post-filter output is
   *  huge and reductions compound through shuffles (TPC-H sf10/sf100
   *  date-filtered lineitem probes win 1.8-3.4×), so the stand-down
   *  only applies while the probed unit's scan volume is under this
   *  many waves' worth of bytes ([[WAVE_COST_BYTES]] × this). Default
   *  64 (512 MB at the 8 MB default wave): above the factor-0.5 IMDB
   *  fact (338 MB, where transfers on filtered facts measure 0.4-0.8×).
   *  The original r16 justification for the top of this ceiling — "at
   *  the factor-2 fact (1.4 GB) off-walls are 4× bigger and the same
   *  transfers amortize" — was REFUTED by the shipped-binary factor-2
   *  measurement (JOBREAL_F2_r17, runs=3: the filtered-probe class
   *  still loses 0.64-0.74×); the mid-band is now covered by the
   *  measured-keep extension, [[FILTERED_PROBE_KEPT_WAVE_MULTIPLE]].
   *  0 disables (reference-faithful: the reference always transfers;
   *  also disables the extension). Gated by [[WAVE_COST_BYTES]] > 0
   *  like the rest of the floor; BF/min-max injection only — scan-level
   *  pruning and ride-through reductions are exempt (file skipping and
   *  free semi-embeds pay at every scale). */
  val FILTERED_PROBE_WAVE_MULTIPLE =
    "spark.graft.rpt.filteredProbeWaveMultiple"
  /** Strength condition on [[FILTERED_PROBE_WAVE_MULTIPLE]]: the probe's
   *  own filter only counts as banked when it keeps LESS than this
   *  fraction of the unit's rows. A weak filter (`l_returnflag IN
   *  ('A','N')` keeps half the fact) banks almost nothing — transfers
   *  behind it kept paying 1.2-2.4× on the measured sf1 topologies,
   *  and the unconditioned gate turned JOBTOPO q18 1.17×→0.80× — while
   *  the measured JOB loser filters (`ci.note = '(voice: English
   *  version)'`, `mi.info IN ('Horror','Thriller')`, name LIKEs) keep
   *  a few percent. Keep is read from the free footer/CBO estimate
   *  when the predicate is priceable, else from an exact planning-time
   *  count of the filtered unit — bounded by the gate's byte ceiling,
   *  TTL-cached (RuntimeCounts), and cheaper than one wrongly-admitted
   *  build wave. Unknown keep stays banked (the measured prior for
   *  small filtered probes is the loser class). Default 0.35: above
   *  every measured loser filter (≤0.3) and below the weak bridge/hub
   *  predicates that must keep probing (≥0.45). */
  val FilteredProbeMaxKeep: Double = 0.35
  /** Mid-scale EXTENSION of the banked-filter stand-down: a filtered
   *  probe site whose scan volume is past the base ceiling
   *  ([[FILTERED_PROBE_WAVE_MULTIPLE]] waves) but under base ×
   *  [[FilteredProbeExtendFactor]] still banks when its MEASURED
   *  post-filter volume (keep fraction × scan bytes) stays under
   *  [[FILTERED_PROBE_KEPT_WAVE_MULTIPLE]] waves' worth of bytes. The
   *  base ceiling's own justification ("at factor 2 the off-walls are 4×
   *  bigger and the same transfers amortize") was REFUTED by measurement
   *  (JOBREAL_F2_r17: 8b 0.64×, 31b 0.73×, 18b 0.74× broadcast at the
   *  1.4 GB factor-2 facts, runs=3) — the re-cut mechanism is
   *  scale-invariant when the filter is sharp: survivors of a 2-3% keep
   *  are tens of MB at any fact size and die at the first join either
   *  way, while the build still costs a wave. What separates those
   *  losers from the mid-band WINNERS the byte ceiling alone cannot
   *  (TPC-H sf10 date-filtered lineitem, ~1.2 GB scan, probes win
   *  1.8-3.4×: RPTBENCH_sf10_r11) is the kept VOLUME: a ~14% date keep
   *  leaves ~170 MB feeding deep shuffles — the probe's cut still pays —
   *  while the measured loser filters keep ≤3% (≤30 MB). Defaults: keep
   *  ceiling 8 waves (64 MB at the 8 MB wave), extend factor 4 (2 GB
   *  band top at defaults). In the extended band the keep must be
   *  MEASURED (footer/CBO/count) — an unknown keep does NOT bank there,
   *  unlike the base band's bank-on-prior; the exact count stays bounded
   *  by the band top. Past the band top nothing ever banks (the sf100
   *  14 GB facts are unreachable, and their filtered probes are measured
   *  winners). 0 disables the extension (base-band behavior only) — the
   *  one off switch: the band top below is fixed. */
  val FILTERED_PROBE_KEPT_WAVE_MULTIPLE =
    "spark.graft.rpt.filteredProbeKeptWaveMultiple"
  /** See [[FILTERED_PROBE_KEPT_WAVE_MULTIPLE]]: the extended band's top,
   *  as a multiple of the base ceiling (2 GB at the default wave and
   *  base multiple). */
  val FilteredProbeExtendFactor: Long = 4L
  /** Skip ops whose BUILD side exceeds this estimated cardinality —
   *  building a bloom filter over a huge side costs more than the probe
   *  saves (mirrors runtime.bloomFilter.creationSideThreshold). */
  val MAX_BUILD_ROWS = "spark.graft.rpt.maxBuildRows"
  /** Probe-relative extension of maxBuildRows: a build is also admitted
   *  when build.card <= probe.card * thisFraction, because a probe that
   *  dwarfs the build amortizes a bigger filter. The absolute cap alone
   *  inverts at scale — at sf100 (600M-row fact) q27's strong reducers
   *  (part `p_size<25` ~10M rows, ASIA customers ~3M) exceed the 8M cap,
   *  so only the weak nation/region transfers fired and q27 measured
   *  0.87× (on 131.6s vs off 114.6s): all probe overhead, no cut — while
   *  the same query with the same caps was 1.73× at sf10 where those
   *  builds are 10× smaller. The reference has no absolute cap at all:
   *  its CREATE_BF materializes the build it was handed and resizes the
   *  filter to true cardinality (physical_create_bf.cpp:352-419); the
   *  cap exists here only because Spark's subquery build is a SECOND
   *  scan. Making it probe-relative restores the reference's behavior
   *  exactly where it pays. Admitted-over-absolute builds size their
   *  bloom filter by [[BigBuildMaxBfItems]], not MAX_BF_ITEMS (a 10M-key
   *  build in a 4M-item filter saturates to a pass-through). The probe
   *  card is the EFFECTIVE one when the probe is a statically-filtered
   *  simple scan in the banked gate's extended band with a MEASURED keep
   *  (card x keep — JOBREAL_F2_r17 part 3: an 8.3M-item name build rode
   *  in on cast_info's raw 72.5M rows while its own filter keeps ~10%);
   *  out-of-band probes (sf100's 14 GB facts) keep raw pricing, and
   *  keptMult=0 ([[FILTERED_PROBE_KEPT_WAVE_MULTIPLE]]) turns the
   *  effective pricing off with the rest of the extended band. 0
   *  disables (absolute cap only). */
  val BIG_BUILD_PROBE_FRACTION = "spark.graft.rpt.bigBuildProbeFraction"
  /** Bloom-filter item cap for builds admitted through the probe-relative
   *  path (see BIG_BUILD_PROBE_FRACTION). 32M items = 32MB at the 8
   *  bits/key Spark sizes to — the torrent-broadcast class, paid only
   *  when the probe is >= 8× bigger. GraftSession raises Spark's own
   *  runtime.bloomFilter.maxNumItems/maxNumBits from this value (the
   *  stock 4M / 64Mbit caps are hard `require`s in BloomFilterAggregate);
   *  the rule still clamps to the live session values so a user lowering
   *  them cannot trip the require. */
  val BigBuildMaxBfItems: Long = 33554432L
  /** Skip ops where build.card * ratio > probe.card. The reference's
   *  materializing CREATE_BF piggybacks the build on a scan the query
   *  performs anyway (physical_create_bf.cpp:201-242); Spark's subquery
   *  build is a SECOND scan of the build side (unless the plan broadcasts
   *  that side — see [[ResolveBroadcastBuilds]]), so a build larger than
   *  its probe target can never pay for itself here. Default 1.0 (build must
   *  be no larger than the probe side — in practice this keeps the full
   *  forward leaves-to-root pass and prunes backward ops whose build is
   *  the big root). 0 disables the gate (reference-faithful: it schedules
   *  every edge in both passes). */
  val MIN_BUILD_PROBE_RATIO = "spark.graft.rpt.minBuildProbeRatio"
  /** `false` (default): a failure inside the rewrite logs a warning and
   *  leaves the plan unchanged — an optimization must never fail the
   *  user's query. `true` (tests): rethrow so defects surface. */
  val FAIL_FAST = "spark.graft.rpt.failFast"
  /** Cap on estimated distinct items used to size each bloom filter. */
  val MAX_BF_ITEMS = "spark.graft.rpt.maxBloomFilterItems"
  /** Default estimated items when the build side has no row-count stats. */
  val DEFAULT_BF_ITEMS = "spark.graft.rpt.defaultBloomFilterItems"
  /** Selectivity payoff gate: skip ops whose build unit's STATIC filter
   *  keeps at least this fraction of the unit's rows — a weakly-selective
   *  build (a loose range, a negation that slipped through as part of a
   *  conjunction) produces a bloom filter containing most keys, so the
   *  probe removes little while the build still costs a scan. The
   *  syntactic filtered/unfiltered classification cannot see this (q05's
   *  `s_acctbal > 0` keeps ~90% of suppliers and measured 0.90×). Keep
   *  fractions come from CBO filter estimates (with ANALYZE'd column
   *  stats), else the footer min/max estimate of
   *  [[FooterStats.keepFraction]], which abstains unless every conjunct
   *  is a range footers can price. */
  val MaxBuildKeepFraction: Double = 0.8
  /** Push the transfer INTO the scan for runtime-filterable v2 sources
   *  (`graft-parquet`, Iceberg-class): alongside the bloom-filter probe,
   *  splice a [[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery]]
   *  on each probe key that is a direct column of a
   *  `SupportsRuntimeV2Filtering` scan. At execution the build side's
   *  distinct keys reach the scan's `filter()`, dropping whole FILES by
   *  footer range (row groups inside kept files are not runtime-filtered:
   *  the scan's reader factory is built at planning) — the reference's
   *  dynamic filter pushdown into LOGICAL_GET (rpt_optimizer.cpp:1401-1501,
   *  physical_create_bf.cpp:282-350), which stock Spark only does for
   *  broadcast-reusable DPP over partition columns. On by default: it
   *  fires only when the probe leaf is a runtime-filterable v2 relation
   *  (plain parquet reads are untouched), and costs one distinct-keys
   *  subquery per probed scan, capped by [[V2_SCAN_FILTER_MAX_BUILD_ROWS]]
   *  (the key set is collected to the driver). */
  val V2_SCAN_FILTER = "spark.graft.rpt.v2ScanFilter"
  /** Skip the in-scan transfer when the build unit exceeds this many rows
   *  (default 1M — past that the driver-collected IN set costs more than
   *  file skipping returns; the bloom-filter probe still applies). */
  val V2_SCAN_FILTER_MAX_BUILD_ROWS = "spark.graft.rpt.v2ScanFilterMaxBuildRows"

  /** Runtime in-scan transfer for builds OVER the in-scan cap — the
   *  default over-cap path, closing the one structural gap vs the
   *  reference's scan pushdown (its dynamic filters are built fresh at
   *  runtime per execution and uncapped,
   *  physical_create_bf.cpp:282-350, rpt_optimizer.cpp:1401-1501).
   *  Instead of shipping the (too-large) key set, the rule splices a
   *  [[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery]]
   *  whose build key is the join key QUANTIZED to a fixed grid — each
   *  delivered value `v` stands for the key range `[v, v+w]` — and marks
   *  the probe's `graft-parquet` relation with the grid width so its
   *  scan interprets the delivered IN-set as ranges. The grid
   *  (origin/width) comes from zero-execution parquet footer stats and
   *  only sets RESOLUTION: quantization is total over the key domain, so
   *  the delivered ranges cover every runtime build key exactly —
   *  regardless of how stale the footer-derived grid is — and the value
   *  count is bounded by `span/width` (~[[V2_QUANT_BUCKETS]]) no matter
   *  how large the build. On by default: runtime-fresh, exact-superset
   *  semantics, and it fires only when the probe leaf is a
   *  `graft-parquet` relation with an integral/date/timestamp key whose
   *  build leaf has usable footer stats.
   *
   *  Keys the grid cannot express — VARCHAR and other non-integral
   *  orderable types (the types whose runtime min/max the reference
   *  tracks, physical_create_bf.cpp:131-176), or integral keys without
   *  usable footer stats — take the ENVELOPE path under the same flag:
   *  the build delivers its runtime MIN/MAX (two values through the same
   *  channel) and the probe relation is marked `graft.range.<col>` so
   *  the scan reads the pair as a `[lo, hi]` envelope — footer
   *  file-prune, still runtime-fresh. */
  val V2_QUANTIZED_OVER_CAP = "spark.graft.rpt.v2QuantizedOverCap"
  /** Target bucket count for the over-cap quantization grid (default
   *  4096): width = max(1, ceil(footerSpan / buckets)). More buckets =
   *  finer file pruning, a (slightly) larger delivered value
   *  set; the delivered count is also bounded by the build's distinct
   *  keys. */
  val V2_QUANT_BUCKETS = "spark.graft.rpt.v2QuantBuckets"

  /** WITHIN-query probe drop — the direct analog of the reference wrapping
   *  its pushed BF filters in `SelectivityOptionalFilter(1, 1000000)`
   *  (physical_create_bf.cpp:326-328): each partition samples its own
   *  spliced bloom probe and, once [[ADAPTIVE_PROBE_SAMPLE]] rows measured
   *  a keep-rate ≥ [[AdaptiveProbeKeepThreshold]], stops evaluating it
   *  (pass-through; superset-safe, so results are unchanged — see
   *  [[AdaptiveProbe]]). This recovers most of an unselective probe's
   *  cost on the first run. Partitions smaller than
   *  the sample never disable, so small-SF runs are byte-identical.
   *
   *  DEFAULT ON (round 14), matching the reference's unconditional wrap.
   *  Round 13 shipped it opt-in because the two-branch sampling codegen
   *  taxed deep plans ~7% with zero latches (RPTBENCH_r13 part 3). The
   *  r14 codegen closes the sampling machinery behind a latched `fastOn`
   *  flag once the window ends — steady state is two predictable branches
   *  and zero counter updates per row — and the same-JVM q35 8-probe
   *  bare-vs-wrapped delta measured 1.2–1.9% (min-of-7, two independent
   *  JVMs), under the 2% bar the r13 verdict set for flipping the
   *  default. Where it fires, the insurance still pays: an unpriceable
   *  keep-all build costs the bare probe 9–37% and the drop recovers
   *  50–90% of that at sf1 (partition-geometry-bound, →~98% at cluster
   *  partition counts). The default-on planning-time keep-fraction gate
   *  kills statically-priceable weak builds before this ever sees them.
   *  Wrapping happens at PHYSICAL planning ([[WrapAdaptiveProbes]]) — a
   *  logical wrap additionally duplicated every build subquery into the
   *  scan's dataFilters (q35 measured 1.03×). */
  val ADAPTIVE_PROBE = "spark.graft.rpt.adaptiveProbeDrop"
  /** Rows each partition samples before the keep-rate check. The
   *  reference samples 1M rows PER SCAN; this sample is PER PARTITION,
   *  and Spark splits a scan into `totalBytes / defaultParallelism`-sized
   *  partitions that are often well under 1M rows — a 1M per-partition
   *  sample would never complete there. 64k estimates a 98% keep-rate
   *  within ±0.3% and leaves the rest of the partition's savings on the
   *  table at every realistic partition size (default 65536). */
  val ADAPTIVE_PROBE_SAMPLE = "spark.graft.rpt.adaptiveProbeSampleRows"
  /** Keep-rate at or above which the sampled probe latches off (the
   *  probe removed ≤2% of rows). */
  val AdaptiveProbeKeepThreshold: Double = 0.98

  /** Every `spark.graft.rpt.*` key declared above (defined after them:
   *  object vals initialize in order). */
  val Keys: Set[String] = Set(ENABLED, HEURISTIC, PASS_MODE, FILTER_TYPE,
    MIN_EDGES, DISPLAY_DAG, PROFILING, DISPLAY_PHYSICAL_DAG, FLIP_ROOTS,
    MIN_PROBE_ROWS, FILTERED_BUILDS_ONLY, SKIP_BROADCASTABLE_BUILDS,
    DEEP_PLAN_EDGES, WAVE_COST_BYTES, MIN_PLAN_WORK_BYTES,
    WAVE_WORK_FRACTION, WAVE_BUILD_FRACTION, FILTERED_PROBE_WAVE_MULTIPLE,
    FILTERED_PROBE_KEPT_WAVE_MULTIPLE, MAX_BUILD_ROWS,
    BIG_BUILD_PROBE_FRACTION, MIN_BUILD_PROBE_RATIO, FAIL_FAST, MAX_BF_ITEMS,
    DEFAULT_BF_ITEMS, V2_SCAN_FILTER,
    V2_SCAN_FILTER_MAX_BUILD_ROWS, V2_QUANTIZED_OVER_CAP, V2_QUANT_BUCKETS,
    ADAPTIVE_PROBE, ADAPTIVE_PROBE_SAMPLE)
  private val Prefix = "spark.graft.rpt."

  /** Raise on a set `spark.graft.rpt.*` key that is not in [[Keys]]: a
   *  misspelled or removed setting would otherwise change nothing,
   *  silently — the same contract as an unknown value (see `normalized`),
   *  and DuckDB's answer to an unknown setting. */
  def requireDeclared(conf: SQLConf): Unit =
    conf.getAllConfs.keysIterator
      .find(k => k.startsWith(Prefix) && !Keys(k))
      .foreach { k =>
        throw new IllegalArgumentException(
          s"$k is not a $Prefix* setting (removed or misspelled)")
      }

  /** Accept both camelCase and the reference's snake_case spellings
   *  (`bf_only` == `bfOnly`); unknown values raise rather than silently
   *  falling through to another mode. */
  private def normalized(conf: SQLConf, key: String, default: String,
      allowed: Set[String]): String = {
    val raw = conf.getConfString(key, default)
    val norm = raw.replace("_", "").toLowerCase
    allowed.find(_.toLowerCase == norm).getOrElse(
      throw new IllegalArgumentException(
        s"$key: '$raw' is not one of ${allowed.mkString(", ")}"))
  }

  def enabled(conf: SQLConf): Boolean =
    conf.getConfString(ENABLED, "true").toBoolean
  def heuristic(conf: SQLConf): String =
    normalized(conf, HEURISTIC, "largestRoot", Set("largestRoot", "joinOrder"))
  def passMode(conf: SQLConf): String =
    normalized(conf, PASS_MODE, "both", Set("both", "forwardOnly"))
  def filterType(conf: SQLConf): String =
    normalized(conf, FILTER_TYPE, "bfOnly", Set("all", "bfOnly", "minmaxOnly"))
  def displayPhysicalDag(conf: SQLConf): Boolean =
    conf.getConfString(DISPLAY_PHYSICAL_DAG, "false").toBoolean
  def flipRoots(conf: SQLConf): Boolean =
    conf.getConfString(FLIP_ROOTS, "true").toBoolean
  def minEdges(conf: SQLConf): Int =
    conf.getConfString(MIN_EDGES, "2").toInt
  def displayDag(conf: SQLConf): Boolean =
    conf.getConfString(DISPLAY_DAG, "false").toBoolean
  def minProbeRows(conf: SQLConf): Long =
    conf.getConfString(MIN_PROBE_ROWS, "65536").toLong
  def filteredBuildsOnly(conf: SQLConf): Boolean =
    conf.getConfString(FILTERED_BUILDS_ONLY, "true").toBoolean
  def skipBroadcastableBuilds(conf: SQLConf): Boolean =
    conf.getConfString(SKIP_BROADCASTABLE_BUILDS, "true").toBoolean
  def deepPlanEdges(conf: SQLConf): Int =
    conf.getConfString(DEEP_PLAN_EDGES, "6").toInt
  def failFast(conf: SQLConf): Boolean =
    conf.getConfString(FAIL_FAST, "false").toBoolean
  def waveCostBytes(conf: SQLConf): Long =
    conf.getConfString(WAVE_COST_BYTES, "8388608").toLong
  def minPlanWorkBytes(conf: SQLConf): Long =
    conf.getConfString(MIN_PLAN_WORK_BYTES, "33554432").toLong
  def waveWorkFraction(conf: SQLConf): Double =
    conf.getConfString(WAVE_WORK_FRACTION, "0.15").toDouble
  def waveBuildFraction(conf: SQLConf): Double =
    conf.getConfString(WAVE_BUILD_FRACTION, "0.5").toDouble
  def filteredProbeWaveMultiple(conf: SQLConf): Long =
    conf.getConfString(FILTERED_PROBE_WAVE_MULTIPLE, "64").toLong
  def filteredProbeKeptWaveMultiple(conf: SQLConf): Long =
    conf.getConfString(FILTERED_PROBE_KEPT_WAVE_MULTIPLE, "8").toLong
  def maxBuildRows(conf: SQLConf): Long =
    conf.getConfString(MAX_BUILD_ROWS, "8000000").toLong
  def bigBuildProbeFraction(conf: SQLConf): Double =
    conf.getConfString(BIG_BUILD_PROBE_FRACTION, "0.125").toDouble
  def minBuildProbeRatio(conf: SQLConf): Double =
    conf.getConfString(MIN_BUILD_PROBE_RATIO, "1.0").toDouble
  def maxBfItems(conf: SQLConf): Long =
    conf.getConfString(MAX_BF_ITEMS, "4000000").toLong
  def defaultBfItems(conf: SQLConf): Long =
    conf.getConfString(DEFAULT_BF_ITEMS, "1000000").toLong
  def v2ScanFilter(conf: SQLConf): Boolean =
    conf.getConfString(V2_SCAN_FILTER, "true").toBoolean
  def v2ScanFilterMaxBuildRows(conf: SQLConf): Long =
    conf.getConfString(V2_SCAN_FILTER_MAX_BUILD_ROWS, "1048576").toLong
  def v2QuantizedOverCap(conf: SQLConf): Boolean =
    conf.getConfString(V2_QUANTIZED_OVER_CAP, "true").toBoolean
  def v2QuantBuckets(conf: SQLConf): Int =
    conf.getConfString(V2_QUANT_BUCKETS, "4096").toInt
  def adaptiveProbeDrop(conf: SQLConf): Boolean =
    conf.getConfString(ADAPTIVE_PROBE, "true").toBoolean
  def adaptiveProbeSample(conf: SQLConf): Long =
    conf.getConfString(ADAPTIVE_PROBE_SAMPLE, "65536").toLong
}
