import java.io.IOException;
import java.io.PrintWriter;
import java.nio.file.Files;
import java.nio.file.Path;
import java.time.Instant;
import java.util.ArrayList;
import java.util.Collections;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordedStackTrace;
import jdk.jfr.consumer.RecordedThread;
import jdk.jfr.consumer.RecordingFile;

/**
 * Collapsed stacks of the Java samples that fall in chosen FilePipeline
 * drains of a JFR recording, one line per distinct stack:
 * {@code thread;outermost.frame;...;innermost.frame count}, the input of
 * flame-graph and diff tools.
 *
 * <pre>
 *   java tools/JfrCollapse.java rec.jfr FIRST_DRAIN LAST_DRAIN out.txt
 * </pre>
 *
 * Each {@code FilePipeline.run} drains in its own thread, named
 * {@code stream execution thread for [id = ..., runId = ...]}. A drain's
 * window runs from its thread's first {@code jdk.ExecutionSample} to its
 * last; drains are numbered by start time from 0, and a sample of any
 * thread belongs to the first window that holds its start time. In a
 * perfbench {@code ingest} run drain 0 is the set-up's warm-up pipeline,
 * drain 1 the backlog and the rest the small waves. The recording is
 * streamed twice through {@link RecordingFile}, so it is never held in
 * memory. Each drain's window and sample count go to standard output.
 */
public class JfrCollapse {

    private static final String SAMPLE = "jdk.ExecutionSample";
    private static final String STREAM_THREAD = "stream execution thread";

    public static void main(String[] args) throws IOException {
        if (args.length != 4) {
            System.err.println("usage: java tools/JfrCollapse.java rec.jfr FIRST_DRAIN LAST_DRAIN out.txt");
            System.exit(2);
        }
        Path rec = Path.of(args[0]);
        int first = Integer.parseInt(args[1]);
        int last = Integer.parseInt(args[2]);

        // pass 1: each stream thread's first and last sample
        Map<String, long[]> byThread = new HashMap<>();
        try (RecordingFile f = new RecordingFile(rec)) {
            while (f.hasMoreEvents()) {
                RecordedEvent e = f.readEvent();
                String name = threadName(e);
                if (isSample(e) && name.startsWith(STREAM_THREAD)) {
                    long t = nanos(e.getStartTime());
                    byThread.merge(name, new long[] {t, t},
                        (a, b) -> new long[] {Math.min(a[0], b[0]), Math.max(a[1], b[1])});
                }
            }
        }
        List<long[]> drains = new ArrayList<>(byThread.values());
        drains.sort((a, b) -> Long.compare(a[0], b[0]));
        if (first < 0 || first > last || last >= drains.size()) {
            System.err.printf("drains %d..%d asked, the recording has %d%n", first, last, drains.size());
            System.exit(1);
        }

        // pass 2: every thread's samples inside the chosen windows
        Map<String, Long> stacks = new HashMap<>();
        long[] perDrain = new long[drains.size()];
        try (RecordingFile f = new RecordingFile(rec)) {
            while (f.hasMoreEvents()) {
                RecordedEvent e = f.readEvent();
                if (!isSample(e)) continue;
                int d = drainOf(drains, nanos(e.getStartTime()));
                if (d < 0) continue;
                perDrain[d]++;
                if (d >= first && d <= last) stacks.merge(collapse(e), 1L, Long::sum);
            }
        }

        for (int i = 0; i < drains.size(); i++) {
            long[] w = drains.get(i);
            System.out.printf("drain %d%s: %d samples in %.0f ms%n", i,
                i >= first && i <= last ? " *" : "", perDrain[i], (w[1] - w[0]) / 1e6);
        }
        List<Map.Entry<String, Long>> lines = new ArrayList<>(stacks.entrySet());
        lines.sort(Collections.reverseOrder(Map.Entry.comparingByValue()));
        try (PrintWriter out = new PrintWriter(Files.newBufferedWriter(Path.of(args[3])))) {
            for (Map.Entry<String, Long> l : lines) out.println(l.getKey() + " " + l.getValue());
        }
    }

    private static boolean isSample(RecordedEvent e) {
        return e.getEventType().getName().equals(SAMPLE);
    }

    private static long nanos(Instant t) {
        return t.getEpochSecond() * 1_000_000_000L + t.getNano();
    }

    /** The first window that holds {@code t}, or -1. */
    private static int drainOf(List<long[]> drains, long t) {
        for (int i = 0; i < drains.size(); i++) {
            long[] w = drains.get(i);
            if (w[0] <= t && t <= w[1]) return i;
        }
        return -1;
    }

    private static String threadName(RecordedEvent e) {
        RecordedThread t = e.hasField("sampledThread") ? e.getThread("sampledThread") : null;
        if (t == null) return "";
        String name = t.getJavaName() != null ? t.getJavaName() : t.getOSName();
        return name == null ? "" : name;
    }

    /** Thread kind, then frames outermost first. Ids and task numbers are
     *  dropped from the thread name, so that one kind of thread folds into one
     *  root, and the per-run suffix from lambda class names, so that two
     *  recordings compare frame by frame. */
    private static String collapse(RecordedEvent e) {
        StringBuilder sb = new StringBuilder(
            threadName(e).replaceAll(" for .*| \\[.*|-\\d+$", "").replace(' ', '_'));
        RecordedStackTrace st = e.getStackTrace();
        if (st == null) return sb.append(";[no stack]").toString();
        if (st.isTruncated()) sb.append(";[truncated]");
        List<RecordedFrame> frames = st.getFrames();
        for (int i = frames.size() - 1; i >= 0; i--) {
            RecordedFrame fr = frames.get(i);
            String type = fr.getMethod().getType().getName().replaceAll("\\$\\$Lambda.*", "\\$\\$Lambda");
            sb.append(';').append(type).append('.').append(fr.getMethod().getName());
        }
        return sb.toString();
    }
}
