import java.io.FileWriter;
import java.io.IOException;
import java.io.PrintWriter;
import java.lang.instrument.Instrumentation;
import java.util.HashMap;
import java.util.Map;

/**
 * Wall-clock sampler for the JVM's main thread, as a dependency-free Java
 * agent. Every 5 ms it takes the main thread's stack, keeps the sample only
 * when some frame's {@code class.method} contains the filter substring, and
 * at exit writes the kept samples as folded stacks (root first, frames
 * joined by {@code ;}, then a space and the count), one file per JVM named
 * {@code <out>.<pid>.folded}. A JVM with no kept sample writes nothing, so
 * a build tool started with the same options leaves no file.
 *
 * <p>Build and attach:
 * <pre>
 *   javac -d out tools/wallsample/WallSample.java
 *   printf 'Premain-Class: WallSample\n' > out/manifest.txt
 *   jar cfm wallsample.jar out/manifest.txt -C out WallSample.class
 *   java -javaagent:wallsample.jar=filter=perfbench.Op.execute,out=/tmp/ws ...
 * </pre>
 * Options, comma-separated: {@code filter} (default
 * {@code perfbench.Op.execute}) and {@code out} (default {@code wallsample}
 * in the working directory).
 * {@code tools/wallsample.py} summarizes the files.
 */
public final class WallSample {
    private static final long PERIOD_MS = 5;

    private WallSample() {}

    public static void premain(String args, Instrumentation inst) {
        Map<String, String> opts = new HashMap<>();
        opts.put("filter", "perfbench.Op.execute");
        opts.put("out", "wallsample");
        if (args != null && !args.isEmpty()) {
            for (String kv : args.split(",")) {
                int eq = kv.indexOf('=');
                if (eq > 0) opts.put(kv.substring(0, eq), kv.substring(eq + 1));
            }
        }
        String filter = opts.get("filter");
        String out = opts.get("out") + "." + ProcessHandle.current().pid() + ".folded";
        // premain runs on the thread that then runs main
        Thread target = Thread.currentThread();
        Map<String, Integer> folded = new HashMap<>();

        Thread sampler = new Thread(() -> {
            while (true) {
                try {
                    Thread.sleep(PERIOD_MS);
                } catch (InterruptedException e) {
                    return;
                }
                StackTraceElement[] stack = target.getStackTrace();
                String key = fold(stack, filter);
                if (key != null) {
                    synchronized (folded) {
                        folded.merge(key, 1, Integer::sum);
                    }
                }
            }
        }, "wallsample");
        sampler.setDaemon(true);
        sampler.start();

        Runtime.getRuntime().addShutdownHook(new Thread(() -> {
            sampler.interrupt();
            synchronized (folded) {
                if (folded.isEmpty()) return;
                try (PrintWriter w = new PrintWriter(new FileWriter(out))) {
                    for (Map.Entry<String, Integer> e : folded.entrySet())
                        w.println(e.getKey() + " " + e.getValue());
                } catch (IOException e) {
                    System.err.println("wallsample: cannot write " + out + ": " + e);
                }
            }
        }, "wallsample-dump"));
    }

    /** The stack root first as {@code a.b;c.d;...}, or null when no frame
     *  matches the filter. */
    private static String fold(StackTraceElement[] stack, String filter) {
        boolean keep = false;
        StringBuilder b = new StringBuilder();
        for (int i = stack.length - 1; i >= 0; i--) {
            String frame = stack[i].getClassName() + "." + stack[i].getMethodName();
            keep |= frame.contains(filter);
            if (b.length() > 0) b.append(';');
            b.append(frame.replace(' ', '_'));
        }
        return keep ? b.toString() : null;
    }
}
