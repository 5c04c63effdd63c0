package market_data_pipeline_databricks_spark.jvm;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's raw local filesystem (no {@code .crc} sidecars) whose
 * {@code setPermission} changes the mode through java.nio instead of
 * forking {@code chmod}, which Hadoop does for every created file and
 * directory when its native library is missing. A sticky bit, which
 * java.nio cannot set, and a filesystem without POSIX attributes keep
 * Hadoop's own path.
 */
public class NioLocalFileSystem extends RawLocalFileSystem {

    private static final PosixFilePermission[] BITS = {
        PosixFilePermission.OTHERS_EXECUTE, PosixFilePermission.OTHERS_WRITE,
        PosixFilePermission.OTHERS_READ, PosixFilePermission.GROUP_EXECUTE,
        PosixFilePermission.GROUP_WRITE, PosixFilePermission.GROUP_READ,
        PosixFilePermission.OWNER_EXECUTE, PosixFilePermission.OWNER_WRITE,
        PosixFilePermission.OWNER_READ,
    };

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
        if (permission.getStickyBit()) {
            super.setPermission(p, permission);
            return;
        }
        Set<PosixFilePermission> mode = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < BITS.length; i++) {
            if ((permission.toShort() & (1 << i)) != 0) {
                mode.add(BITS[i]);
            }
        }
        try {
            Files.setPosixFilePermissions(pathToFile(p).toPath(), mode);
        } catch (UnsupportedOperationException e) {
            super.setPermission(p, permission);
        }
    }

    /** The same filesystem for {@code FileContext} users, such as
     * streaming checkpoints: Hadoop's {@code RawLocalFs} over it. */
    public static class Fs extends DelegateToFileSystem {
        public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
            super(uri, new NioLocalFileSystem(), conf, "file", false);
        }

        @Override
        public int getUriDefaultPort() {
            return -1;
        }

        @Override
        public FsServerDefaults getServerDefaults(Path f) throws IOException {
            return LocalConfigKeys.getServerDefaults();
        }

        @Override
        @Deprecated
        public FsServerDefaults getServerDefaults() throws IOException {
            return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public boolean isValidName(String src) {
            return true;
        }
    }
}
