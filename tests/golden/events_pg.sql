SELECT cron.schedule('purge_stale_sessions', '0 0 * * *', $evt$DO $do$ BEGIN IF now() >= TIMESTAMP '2024-01-01 00:00:00' - interval '59 seconds' THEN DELETE FROM case_41_parent WHERE name = 'stale'; END IF; END $do$$evt$);
-- NOTE [purge_stale_sessions]: event purge_stale_sessions: literal STARTS '2024-01-01 00:00:00' enforced as a start gate inside the DO block — the job no-ops before the anchor (a future STARTS never fires early); the cron entry already fires at MySQL's anchored times
SELECT cron.schedule('hourly_rollup', '0 * * * *', $evt$INSERT INTO case_41_parent (name) SELECT COALESCE(('roll-' || CAST(to_char(CAST(CURRENT_TIMESTAMP AS TIMESTAMP), 'YYYY-MM-DD') AS TEXT)), 'x')$evt$);
-- NOTE [hourly_rollup]: event hourly_rollup: cron anchors at the unit boundary; with no STARTS clause MySQL anchors the cadence at event creation time, which is not representable — first firing may shift by less than one period
SELECT cron.schedule('one_shot_cleanup', '0 0 * * *', $evt$DO $do$ BEGIN IF now() >= TIMESTAMP '2030-01-01 00:00:00' THEN DELETE FROM case_41_parent WHERE name = 'tmp'; PERFORM cron.unschedule('one_shot_cleanup'); END IF; END $do$$evt$);
-- NOTE [one_shot_cleanup]: event one_shot_cleanup: one-shot AT '2030-01-01 00:00:00' emulated via pg_cron's self-unschedule idiom — a daily cron entry whose DO block no-ops until the timestamp (never early), then runs the body once and removes itself; a server down at that minute or cron.timezone vs session TimeZone skew delays the firing by at most a day plus the skew, where MySQL would have dropped a missed one-shot
SELECT cron.schedule('odd_cadence', '* * * * *', $evt$DO $do$ BEGIN IF floor(extract(epoch from now()) / 60)::bigint % 7 = 0 THEN DELETE FROM case_41_parent WHERE name = 'odd'; END IF; END $do$$evt$);
-- NOTE [odd_cadence]: event odd_cadence: EVERY 7 MINUTE is not cron-expressible directly — emulated as a '* * * * *' job whose DO block fires only when an integral multiple of the period has elapsed, epoch/calendar-anchored (MySQL anchors at STARTS or event creation time, which is not representable — the firing phase may shift by less than one period); off-period matches no-op
DO $do1$ BEGIN PERFORM cron.schedule('paused_purge', '30 4 * * *', $evt$DO $do$ BEGIN IF round(extract(epoch from now() - TIMESTAMP '2024-03-01 04:30:00') / 86400)::bigint % 2 = 0 AND now() >= TIMESTAMP '2024-03-01 04:30:00' - interval '59 seconds' THEN DELETE FROM case_41_parent WHERE name = 'paused'; END IF; END $do$$evt$); UPDATE cron.job SET active = false WHERE jobname IN ('paused_purge'); END $do1$;
-- NOTE [paused_purge]: event paused_purge: EVERY 2 DAY is not cron-expressible directly — emulated as a '30 4 * * *' job whose DO block fires only when an integral multiple of the period has elapsed, anchored exactly at STARTS '2024-03-01 04:30:00'; off-period matches no-op
-- NOTE [paused_purge]: event paused_purge is DISABLE'd at the source — scheduled INACTIVE (cron.job.active = false, MySQL's DISABLE bit) atomically in one DO block so the active row is never visible to pg_cron; re-enable with UPDATE cron.job SET active = true WHERE jobname IN ('paused_purge')
CREATE OR REPLACE PROCEDURE nightly_compound_evt_job()
AS $$
DECLARE
BEGIN
    DELETE FROM case_41_parent WHERE name = 'a';
    DELETE FROM case_41_parent WHERE name = 'b';
END;
$$ LANGUAGE plpgsql;
SELECT cron.schedule('nightly_compound', '0 0 * * *', $evt$CALL nightly_compound_evt_job()$evt$);
-- NOTE [nightly_compound]: event nightly_compound: cron anchors at the unit boundary; with no STARTS clause MySQL anchors the cadence at event creation time, which is not representable — first firing may shift by less than one period
SELECT cron.schedule('bounded_window', '15 * * * *', $evt$DO $do$ BEGIN IF now() >= TIMESTAMP '2026-01-01 00:15:00' - interval '59 seconds' THEN DELETE FROM case_41_parent WHERE name = 'window'; END IF; END $do$$evt$);
-- NOTE [bounded_window]: event bounded_window: literal STARTS '2026-01-01 00:15:00' enforced as a start gate inside the DO block — the job no-ops before the anchor (a future STARTS never fires early); the cron entry already fires at MySQL's anchored times
SELECT cron.schedule('bounded_window_ends', '0 0 * * *', $evt$DO $do$ BEGIN IF now() >= TIMESTAMP '2026-06-01 00:00:00' THEN PERFORM cron.unschedule('bounded_window'); PERFORM cron.unschedule('bounded_window_ends'); END IF; END $do$$evt$);
-- NOTE [bounded_window]: event bounded_window: ENDS '2026-06-01 00:00:00' emulated via a self-unscheduling remover job (daily cron entry whose DO block no-ops until the ENDS timestamp) that removes both jobs at the first daily match at-or-after the ENDS time — never early; a server down at that minute or cron.timezone vs session TimeZone skew delays the removal by at most a day plus the skew
